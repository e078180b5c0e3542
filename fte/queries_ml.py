"""Training-data-pipeline query catalog: dedup, similarity, text
analysis — Spark + DuckDB oracle pairs over documents/embeddings.

Hash-free formulations are used wherever the oracle must agree
value-for-value (DuckDB has no xxhash64): dedup compares normalized
text, n-gram Jaccard compares gram SETS (Spark hashes grams to 64-bit
first — identical set cardinalities absent collisions). MinHash /
SimHash / LSH / IVF queries are rows-only entries (no SQL oracle can
reproduce the hash family); their correctness is covered by pytest
ground-truth tests instead (tests/test_dedup.py, test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fte.functions import norm_text, top_k, words
from fte.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from fte.operators.similarity import (
    brute_force_topk,
    ivf_build,
    ivf_topk,
    knn_join,
    lsh_topk,
    _as_double,
)
from fte.operators.text import (
    LANG_PROFILES,
    bpe_ish_token_count,
    token_count,
    with_lang_id,
    with_quality_score,
)
from fte.scan import read_table as _t


MUT_TAIL = " extra appended tail tokens for near duplicate testing"


def recall_vs_exact(exact: DataFrame, approx: DataFrame, keys: str | list[str]) -> DataFrame:
    """One row ``(n_exact, n_overlap, recall)``: how many of the exact
    result's ``keys`` the approximate result also found."""
    overlap = exact.join(approx, keys, "left_semi")
    ex = exact.agg(F.count("*").alias("n_exact"))
    ov = overlap.agg(F.count("*").alias("n_overlap"))
    return ex.crossJoin(ov).select(
        "n_exact", "n_overlap",
        (F.col("n_overlap") / F.col("n_exact")).cast("double").alias("recall"),
    )


def query_vector(e: DataFrame) -> list[float]:
    """The catalog's single query vector: ``vec_id = 0``'s embedding."""
    return [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]


def query_set(e: DataFrame) -> DataFrame:
    """The catalog's batch query set: vec_ids 0-2 as ``(query_id,
    embedding)``."""
    return e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _docs_with_mutants(spark, sf_dir, min_bytes: int | None = None) -> DataFrame:
    d = _t(spark, sf_dir, "documents", min_bytes=min_bytes).select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MUT_TAIL)).alias("text"),
    )
    return d.unionByName(mut)


SQL_DOCS_MUT = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || '{MUT_TAIL}' AS text FROM documents
"""


# ------------------------------------------------------------- dedup

def q_doc_dedup_norm(spark, sf_dir):
    """Exact dedup on normalized text (case/whitespace-insensitive):
    keep the min doc_id per content group. Hash-free so the oracle can
    reproduce it; fte.operators.dedup.exact_dedup uses the xxhash64
    fingerprint of the SAME normalization at scale."""
    d = _docs_with_mutants(spark, sf_dir)
    norm = norm_text("text")
    return (
        d.withColumn("_n", norm)
        .groupBy("_n")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


SQL_DOC_DEDUP_NORM = f"""
WITH u AS ({SQL_DOCS_MUT})
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM u GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
"""


def q_ngram_neardup(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs over docs ∪ mutated
    copies (threshold 0.5) — ground truth for the MinHash path."""
    d = _docs_with_mutants(spark, sf_dir).filter(token_count("text") >= 3)
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_NEARDUP = f"""
WITH u AS ({SQL_DOCS_MUT}),
w AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM u
),
g AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]) AS grams
  FROM w WHERE len(ws) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / GREATEST(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / GREATEST(len(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.5
"""


def q_minhash_neardup(spark, sf_dir):
    """MinHash-LSH near-dup pairs (rows-only: hash family not
    reproducible in SQL; pytest covers ground truth)."""
    d = _docs_with_mutants(spark, sf_dir)
    # bands=8 (r=4): ~0.9 recall at jaccard 0.7, and unrelated-pair
    # collision rate low enough that candidates stay near-linear
    pairs = minhash_lsh_pairs(d, num_hashes=32, bands=8, jaccard_threshold=0.5)
    return pairs.select(
        "id_a", "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_incremental_neardup(spark, sf_dir):
    """Daily-ingest NEAR-dup dedup against a persisted signature index
    (fte/operators/dedup.py::incremental_neardup): corpus = doc_id%3≠0,
    batch = the rest plus planted exact copies of corpus docs
    (doc_id+200000). The oracle value-checks what SQL can reproduce —
    batch size and the exact-cross-duplicate count (normalized-text
    match) — and pins two behavioral booleans computed in Spark:
    every exact cross-duplicate is dropped (identical shingle sets ⇒
    identical signatures ⇒ est 1.0), and replaying the batch against
    the appended index drops EVERYTHING (idempotence — the daily-
    ingest contract). The signature estimates themselves are not
    SQL-reproducible (same class as minhash_neardup)."""
    from fte.operators.dedup import incremental_neardup, minhash_signatures

    # spread_scan=False: the steady state of this query is text-normalize
    # joins whose exchange keys are the normalized text itself — a
    # spread exchange upstream just moves the fat strings twice (r6
    # same-window A/B: 9.9 s spread vs 8.4 s unspread on the replica).
    d = _t(spark, sf_dir, "documents", spread_scan=False).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    fresh = d.filter(F.col("doc_id") % 3 == 0)
    planted = corpus.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    batch = fresh.unionByName(planted)
    index = minhash_signatures(corpus).localCheckpoint(eager=False)
    kept, new_rows = incremental_neardup(batch, index, threshold=0.5)
    kept = kept.localCheckpoint(eager=False)
    index2 = index.union(new_rows)
    kept2, _ = incremental_neardup(batch, index2, threshold=0.5)

    cross = batch.withColumn("_n", norm_text("text")).join(
        corpus.select(norm_text("text").alias("_n")).distinct(), "_n", "left_semi"
    )
    nb = batch.agg(F.count("*").cast("long").alias("n_batch"))
    nx = cross.agg(F.count("*").cast("long").alias("n_exact_cross"))
    nxk = cross.join(kept, "doc_id", "left_semi").agg(
        F.count("*").alias("_cross_kept")
    )
    nr = kept2.agg(F.count("*").alias("_replay_kept"))
    return (
        nb.crossJoin(nx).crossJoin(nxk).crossJoin(nr)
        .select(
            "n_batch", "n_exact_cross",
            (F.col("_cross_kept") == 0).alias("exact_cross_dropped"),
            (F.col("_replay_kept") == 0).alias("idempotent"),
        )
    )


SQL_INCREMENTAL_NEARDUP = r"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
fresh AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
planted AS (SELECT doc_id + 200000 AS doc_id, text FROM corpus WHERE doc_id % 10 = 1),
batch AS (SELECT * FROM fresh UNION ALL SELECT * FROM planted),
cn AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS n FROM corpus)
SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS n_batch,
       CAST((SELECT COUNT(*) FROM batch b
             WHERE lower(regexp_replace(trim(b.text), '\s+', ' ', 'g')) IN (SELECT n FROM cn)) AS BIGINT)
         AS n_exact_cross,
       true AS exact_cross_dropped,
       true AS idempotent
"""


def q_simhash_neardup(spark, sf_dir):
    """SimHash hamming<=6 pairs (rows-only: the hash family is not
    SQL-reproducible). Candidate generation uses 7 pigeonhole blocks —
    guaranteed total recall at radius 6 (test_simhash_pigeonhole_total_recall)."""
    d = _docs_with_mutants(spark, sf_dir)
    return simhash_pairs(d, max_hamming=6)


# --------------------------------------------------------------- text

def q_emb_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via RH-signature bucket
    self-join, over embeddings ∪ planted exact copies (vec_id+100000).

    Oracle-checkable because identical vectors always share a
    signature (full recall on exact dups), and the random corpus has
    no other pairs near cos 1 — so the LSH output must equal the SQL
    all-pairs filter at threshold 0.999."""
    from fte.operators.similarity import embedding_dup_pairs

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mut = e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    u = e.unionByName(mut)
    pairs = embedding_dup_pairs(u, threshold=0.999, n_bits=12)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


SQL_EMB_NEARDUP = """
WITH u AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos_raw
  FROM u a JOIN u b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos_raw, 6) AS cos_sim FROM p WHERE cos_raw >= 0.999
"""


def q_dup_components(spark, sf_dir):
    """Duplicate clusters: connected components (iterative min-label
    propagation, localCheckpoint per round) over the exact n-gram
    Jaccard pairs. Oracle: DuckDB recursive-CTE transitive closure on
    the same pair set — component_id = min doc_id of the component."""
    from fte.operators.dedup import duplicate_components

    d = _docs_with_mutants(spark, sf_dir).filter(token_count("text") >= 3)
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    comps = duplicate_components(pairs)
    return comps.select(
        F.col("id").cast("long").alias("id"),
        F.col("comp").cast("long").alias("component_id"),
    )


SQL_DUP_COMPONENTS = f"""
WITH RECURSIVE uu AS ({SQL_DOCS_MUT}),
w0 AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM uu
),
g0 AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]) AS grams
  FROM w0 WHERE len(ws) >= 3
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g0 a JOIN g0 b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / GREATEST(len(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.5
),
e AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
),
walk AS (
  SELECT id_a AS id, id_b AS reach FROM e
  UNION
  SELECT w.id, e2.id_b AS reach FROM walk w JOIN e e2 ON w.reach = e2.id_a
)
SELECT CAST(w.id AS BIGINT) AS id,
       CAST(LEAST(w.id, MIN(w.reach)) AS BIGINT) AS component_id
FROM walk w
GROUP BY w.id
"""


def q_canonical_per_cluster(spark, sf_dir):
    """Quality-aware canonical per duplicate cluster: over the exact
    n-gram-Jaccard clusters, keep the member with the most whitespace
    tokens (the keep-the-longest production rule — each mutant is its
    original plus an appended tail, so the MUTANT wins its cluster,
    proving this is not min-id). Oracle: the dup_components recursive
    closure extended with a per-component arg-max."""
    from fte.operators.dedup import canonical_per_cluster

    d = _docs_with_mutants(spark, sf_dir).filter(token_count("text") >= 3)
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    quality = d.select("doc_id", token_count("text").alias("q"))
    out = canonical_per_cluster(quality, pairs, quality_col="q")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "component_id", "canonical_id", "is_canonical",
    )


SQL_CANONICAL = f"""
WITH RECURSIVE uu AS ({SQL_DOCS_MUT}),
w0 AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM uu
),
g0 AS (
  SELECT doc_id, len(ws) AS q,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]) AS grams
  FROM w0 WHERE len(ws) >= 3
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g0 a JOIN g0 b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / GREATEST(len(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.5
),
e AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b FROM pairs
),
walk AS (
  SELECT id_a AS id, id_b AS reach FROM e
  UNION
  SELECT w.id, e2.id_b AS reach FROM walk w JOIN e e2 ON w.reach = e2.id_a
),
compmap AS (
  SELECT w.id, LEAST(w.id, MIN(w.reach)) AS component_id
  FROM walk w GROUP BY w.id
),
labeled AS (
  SELECT g0.doc_id, g0.q,
         COALESCE(c.component_id, g0.doc_id) AS component_id
  FROM g0 LEFT JOIN compmap c ON c.id = g0.doc_id
),
win AS (
  SELECT component_id, doc_id AS canonical_id
  FROM (
    SELECT component_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY component_id
                              ORDER BY q DESC, doc_id ASC) AS rn
    FROM labeled
  ) WHERE rn = 1
)
SELECT CAST(l.doc_id AS BIGINT) AS doc_id,
       CAST(l.component_id AS BIGINT) AS component_id,
       CAST(w.canonical_id AS BIGINT) AS canonical_id,
       l.doc_id = w.canonical_id AS is_canonical
FROM labeled l JOIN win w USING (component_id)
"""


def q_shuffle_order(spark, sf_dir):
    """Seed-stable global training order over the documents table:
    position = dense rank in (md5-uniform(doc_id, seed=42), doc_id)
    order, computed distributed (range-sort + per-partition offsets —
    never a global single-task window)."""
    from fte.operators.sampling import deterministic_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed=42, n_partitions=8).select(
        "doc_id", "shuffle_pos"
    )


SQL_SHUFFLE_ORDER = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY u, doc_id) - 1 AS BIGINT) AS shuffle_pos
FROM (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) AS DOUBLE)
           / CAST(4294967296.0 AS DOUBLE) AS u
  FROM documents)
"""


def q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


def q_doc_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = with_quality_score(d)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        "quality_score",
    )


SQL_DOC_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '') AS toks,
         LENGTH(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, text, n_chars, len(toks) AS n_tok,
         CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE)
           / GREATEST(len(toks), 1) AS mwl,
         CAST(len(list_filter(toks, w -> list_contains(
              ['the','and','of','to','in','is','you','that','it','for'], lower(w)))) AS DOUBLE)
           / GREATEST(len(toks), 1) AS swr,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / GREATEST(n_chars, 1) AS pr,
         CAST(LENGTH(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
           / GREATEST(n_chars, 1) AS ur,
         CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / GREATEST(n_chars, 1) AS dr
  FROM t
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       ROUND(mwl, 6) AS mean_word_len,
       ROUND(swr, 6) AS stopword_ratio,
       ROUND(dr, 6) AS digit_ratio,
       (CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN mwl BETWEEN 2 AND 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN swr >= 0.05 THEN 0.25 ELSE 0.0 END
        + CASE WHEN pr <= 0.2 AND ur <= 0.3 AND dr <= 0.3 THEN 0.25 ELSE 0.0 END) AS quality_score
FROM m
"""


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_lang_id(d).select(
        "doc_id", "lang_pred", F.round("lang_score", 6).alias("lang_score")
    )


def _sql_lang_id() -> str:
    score_exprs = []
    for lang, stops in LANG_PROFILES.items():
        lst = "[" + ",".join(f"'{w}'" for w in stops) + "]"
        score_exprs.append(
            f"CAST(len(list_filter(toks, w -> list_contains({lst}, w))) AS DOUBLE)"
            f" / GREATEST(len(toks), 1) AS s_{lang}"
        )
    # tie-break mirrors Spark's array_max over struct(score, lang):
    # max score, ties to the lexicographically greatest lang
    # ('fr' > 'es' > 'en' > 'de')
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
                        w -> w <> ''), w -> lower(w)) AS toks
  FROM documents
), s AS (
  SELECT doc_id, {', '.join(score_exprs)} FROM t
)
SELECT doc_id,
       CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
            WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
            WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
            WHEN s_en >= s_de THEN 'en'
            ELSE 'de' END AS lang_pred,
       ROUND(GREATEST(s_en, s_de, s_fr, s_es), 6) AS lang_score
FROM s
"""


def q_winnow_fp(spark, sf_dir):
    """Winnowing (MOSS rolling-hash) fingerprints per document —
    distinct selected k-gram md5s (k=3, window=4). md5 keeps the hash
    family SQL-reproducible, so this is value-checked end to end."""
    from fte.operators.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=3, window=4)


SQL_WINNOW_FP = r"""
WITH w0 AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN [md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) FOR i IN range(1, len(ws) - 1)]
              ELSE [md5(nt)] END AS ghs
  FROM w0
),
e AS (
  SELECT doc_id, unnest(ghs) AS gh, generate_subscripts(ghs, 1) AS pos1, len(ghs) AS ngrams
  FROM g
),
s AS (
  SELECT doc_id, pos1, ngrams,
         MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos1
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
  FROM e
)
SELECT DISTINCT doc_id, sel AS fp FROM s
WHERE pos1 >= 4 OR pos1 = ngrams
"""


def q_winnow_pairs(spark, sf_dir):
    """Copy-detection pairs: docs ∪ mutated copies sharing ≥ 3 winnow
    fingerprints, with the shared count. Winnowing guarantee: any
    shared run of ≥ k+window-1 (= 6) words shares ≥ 1 fingerprint, so
    every mutant pair is found."""
    from fte.operators.text import winnow_fingerprints

    d = _docs_with_mutants(spark, sf_dir)
    fps = winnow_fingerprints(d, k=3, window=4)
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


SQL_WINNOW_PAIRS = rf"""
WITH u AS ({SQL_DOCS_MUT}),
w0 AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
  FROM u
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN [md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) FOR i IN range(1, len(ws) - 1)]
              ELSE [md5(nt)] END AS ghs
  FROM w0
),
e AS (
  SELECT doc_id, unnest(ghs) AS gh, generate_subscripts(ghs, 1) AS pos1, len(ghs) AS ngrams
  FROM g
),
s AS (
  SELECT DISTINCT doc_id, sel FROM (
    SELECT doc_id, pos1, ngrams,
           MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos1
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
    FROM e
  ) WHERE pos1 >= 4 OR pos1 = ngrams
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM s a JOIN s b ON a.sel = b.sel AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 3
"""


def q_top_terms(spark, sf_dir):
    """Corpus term statistics: top-15 lowercased whitespace tokens by
    total occurrences (ties → lexicographic), with document frequency.
    Explode → two-level hash agg (map-side partials) → global top-k as
    TakeOrderedAndProject; the classic corpus-stats shape that feeds
    stopword lists and TF-IDF vocabularies."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("term")).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    top = top_k(counts, [F.desc("n_occurrences"), F.asc("term")], 15, "term_rank")
    return top.withColumn("term_rank", F.col("term_rank").cast("long"))


SQL_TOP_TERMS = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
                            w -> w <> '')) AS term
  FROM documents
),
c AS (
  SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
  FROM tok GROUP BY term
)
SELECT term, n_occurrences, n_docs,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term ASC) AS BIGINT) AS term_rank
FROM c ORDER BY n_occurrences DESC, term ASC LIMIT 15
"""


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of event values per event_type (width 10,
    clamped to [0, 100)) — the numeric-binning family (width_bucket)."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.least(F.greatest(F.floor(F.col("value") / 10), F.lit(0)), F.lit(9)).cast("int")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


SQL_VALUE_HISTOGRAM = """
SELECT event_type,
       CAST(LEAST(GREATEST(FLOOR(value / 10), 0), 9) AS INTEGER) AS bucket,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_curation_funnel(spark, sf_dir):
    """End-to-end corpus-curation funnel over docs ∪ mutated copies —
    the composition the individual operators exist for. One row of
    stage survivor counts:
      n_total → n_lang_en (lang-ID) → n_quality (score ≥ 0.75)
      → n_exact_kept (min-id per normalized text)
      → n_neardup_kept (drop the higher id of every exact-3-gram
        Jaccard ≥ 0.5 pair among the exact-kept survivors).
    Every stage reuses an oracle-checked operator, so the whole funnel
    is SQL-reproducible."""
    from fte.operators.dedup import ngram_jaccard_pairs
    from fte.operators.text import with_lang_id, with_quality_score

    d = _docs_with_mutants(spark, sf_dir)
    scored = with_quality_score(with_lang_id(d))
    filt = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.75)
    )
    norm = norm_text("text")
    keep = (
        filt.withColumn("_n", norm)
        .groupBy("_n")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact_kept = filt.join(keep, "doc_id", "left_semi")
    pairs = ngram_jaccard_pairs(
        exact_kept.filter(token_count("text") >= 3), k=3, threshold=0.5
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    near_kept = exact_kept.join(losers, "doc_id", "left_anti")
    stages = [
        d.agg(F.count("*").alias("n_total")),
        scored.filter(F.col("lang_pred") == "en").agg(F.count("*").alias("n_lang_en")),
        filt.agg(F.count("*").alias("n_quality")),
        exact_kept.agg(F.count("*").alias("n_exact_kept")),
        near_kept.agg(F.count("*").alias("n_neardup_kept")),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.crossJoin(s)
    return out


def _sql_curation_funnel() -> str:
    # the lang-ID and quality oracle SQL both scan `documents`; point
    # them at the shared docs∪mutants CTE instead (nested WITH inside
    # a CTE body referencing an outer CTE is fine in DuckDB)
    lang_sql = _sql_lang_id().replace("FROM documents", "FROM u")
    quality_sql = SQL_DOC_QUALITY.replace("FROM documents", "FROM u")
    return rf"""
WITH u AS ({SQL_DOCS_MUT}),
lang AS ({lang_sql}),
q AS ({quality_sql}),
filt AS (
  SELECT u.doc_id, u.text FROM u
  JOIN lang ON lang.doc_id = u.doc_id AND lang.lang_pred = 'en'
  JOIN q ON q.doc_id = u.doc_id AND q.quality_score >= 0.75
),
keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM filt GROUP BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
),
exact_kept AS (SELECT f.* FROM filt f JOIN keep k ON k.doc_id = f.doc_id),
w AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM exact_kept
),
g AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]) AS grams
  FROM w WHERE len(ws) >= 3
),
losers AS (
  SELECT DISTINCT b.doc_id
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / GREATEST(len(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.5
)
SELECT
  (SELECT COUNT(*) FROM u) AS n_total,
  (SELECT COUNT(*) FROM lang WHERE lang_pred = 'en') AS n_lang_en,
  (SELECT COUNT(*) FROM filt) AS n_quality,
  (SELECT COUNT(*) FROM exact_kept) AS n_exact_kept,
  (SELECT COUNT(*) FROM exact_kept WHERE doc_id NOT IN (SELECT doc_id FROM losers)) AS n_neardup_kept
"""


def q_hash_split(spark, sf_dir):
    """Deterministic key-stable train/val/test split (90/5/5 by
    md5-uniform of doc_id) — reproducible across runs, batches, and
    engines, which is what makes web-scale splits leak-free."""
    from fte.operators.sampling import with_split

    d = _t(spark, sf_dir, "documents")
    return with_split(d, "doc_id").select("doc_id", "split")


SQL_HASH_SPLIT = """
SELECT doc_id,
       CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) AS DOUBLE)
           / CAST(4294967296.0 AS DOUBLE) AS u
  FROM documents)
"""


def q_pack_bins(spark, sf_dir):
    """LLM sequence packing: greedy token-capacity bins (2048) within
    md5 hash shards — (doc, shard, bin, running fill), all
    deterministic, oracle = per-shard recursive CTE of the same greedy
    recursion."""
    from fte.operators.packing import pack_documents
    from fte.operators.text import token_count

    d = _t(spark, sf_dir, "documents").withColumn("ws_tokens", token_count("text"))
    return pack_documents(d, "ws_tokens", capacity=2048, n_shards=16)


SQL_PACK_BINS = r"""
WITH RECURSIVE s AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS t,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#p42'), 1, 8)) AS BIGINT) % 16 AS INTEGER) AS shard
  FROM documents
),
o AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM s
),
r AS (
  SELECT doc_id, shard, rn, t AS fill, CAST(0 AS BIGINT) AS bin FROM o WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.rn,
         CASE WHEN r.fill + o.t <= 2048 THEN r.fill + o.t ELSE o.t END AS fill,
         CASE WHEN r.fill + o.t <= 2048 THEN r.bin ELSE r.bin + 1 END AS bin
  FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT doc_id, shard, bin AS bin_idx, fill AS bin_fill_after FROM r
"""


# --------------------------------------------------------- similarity

def q_emb_top_pairs(spark, sf_dir):
    """Top-20 most cosine-similar embedding pairs (exact, all pairs)."""
    from fte.operators.similarity import dot, norm

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("_e")
    )
    # hoist norms: computed once per row, not once per pair (the HOF
    # fold is interpreted — tripling per-pair work costs real seconds)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("_e").alias("_ea"),
                 norm(F.col("_e")).alias("_na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("_e").alias("_eb"),
                 norm(F.col("_e")).alias("_nb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = (dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))).cast("double")
    # the n²/2 pair stream reduces per partition (top_k), not through
    # one window task
    order = [F.desc("cos_raw"), F.asc("id_a"), F.asc("id_b")]
    top = top_k(pairs.select("id_a", "id_b", sim.alias("cos_raw")), order, 20, "pair_rank")
    return top.select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"),
        F.col("pair_rank").cast("long").alias("pair_rank"),
    )


SQL_EMB_TOP_PAIRS = """
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos_raw
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos_raw, 6) AS cos_sim, CAST(pair_rank AS BIGINT) AS pair_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cos_raw DESC, id_a ASC, id_b ASC) AS pair_rank FROM p
) WHERE pair_rank <= 20
"""


def q_knn_batch(spark, sf_dir):
    """Exact top-5 neighbors for query vectors 0,1,2 (broadcast knn join)."""
    e = _t(spark, sf_dir, "embeddings", spread_scan=False)
    got = knn_join(e, query_set(e), k=5)
    return got.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_KNN_BATCH = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
s AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))) AS sim
  FROM embeddings e, q
)
SELECT query_id, vec_id, ROUND(sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


def q_emb_top_pairs_gemm(spark, sf_dir):
    """Same top-20 pairs via blockwise numpy GEMM (the scale path).

    Oracle: SQL_EMB_TOP_PAIRS — the algorithm is exact (every pair
    lives in exactly one block combo; off-diagonal combos are
    canonicalized, not filtered), so it must produce the identical
    pair set and ranks; cos_sim agrees after 6-dp rounding (numpy
    GEMM vs DuckDB sequential dot differ only in final ulps). Also
    cross-checked against exact numpy all-pairs in pytest
    (test_gemm_all_pairs_matches_exact)."""
    from fte.operators.similarity import all_pairs_topk_gemm

    e = _t(spark, sf_dir, "embeddings")
    out = all_pairs_topk_gemm(e, k=20, n_blocks=8)
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("pair_rank").cast("long").alias("pair_rank"),
    )


def q_lsh_topk(spark, sf_dir):
    """ANN top-10 via random-hyperplane LSH (rows-only; recall vs
    brute force is pytest-checked)."""
    e = _t(spark, sf_dir, "embeddings")
    got = lsh_topk(e, query_vector(e), k=10, n_bits=12, max_hamming=3)
    return got.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_ivf_topk(spark, sf_dir):
    """ANN top-10 via IVF cells (rows-only)."""
    e = _t(spark, sf_dir, "embeddings")
    q = query_vector(e)
    assigned, C = ivf_build(e, n_cells=16)
    got = ivf_topk(assigned, C, q, k=10, nprobe=4)
    return got.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_ivf_knn_batch(spark, sf_dir):
    """Batch ANN: top-5 per query (vec_ids 0-2) over IVF cells —
    ivf_topk's batch twin with knn_join's per-partition GEMM + cell
    masking (rows-only: approximate by design; agreement vs the exact
    batch knn is the oracle-checked ivf_knn_recall_vs_exact row)."""
    from fte.operators.similarity import ivf_knn_join

    e = _t(spark, sf_dir, "embeddings", spread_scan=False)
    assigned, C = ivf_build(e, n_cells=16)
    got = ivf_knn_join(assigned, C, query_set(e), k=5, nprobe=4)
    return got.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_knn_recall_vs_exact(spark, sf_dir):
    """Agreement gate for batch IVF ANN: overlap of ivf_knn_join's
    top-5-per-query (16 cells, nprobe=4 — a 4x scan reduction) with
    the exact GEMM knn_join over the same 3 queries. Deterministic →
    pinned for sf0.01 (12/15)."""
    from fte.operators.similarity import ivf_knn_join

    e = _t(spark, sf_dir, "embeddings")
    queries = query_set(e)
    exact = knn_join(e, queries, k=5).select("query_id", "vec_id")
    assigned, C = ivf_build(e, n_cells=16)
    approx = ivf_knn_join(assigned, C, queries, k=5, nprobe=4).select(
        "query_id", "vec_id"
    )
    return recall_vs_exact(exact, approx, ["query_id", "vec_id"])


SQL_IVF_KNN_RECALL = """
SELECT CAST(15 AS BIGINT) AS n_exact, CAST(12 AS BIGINT) AS n_overlap,
       CAST(12 AS DOUBLE) / CAST(15 AS DOUBLE) AS recall
"""


def q_emb_norms(spark, sf_dir):
    """Per-row embedding L2 norm via mapInArrow — the zero-copy Arrow
    surface (flat value-buffer numpy view, no pandas objects)."""
    from fte.operators.similarity import with_l2_norm_arrow

    e = _t(spark, sf_dir, "embeddings")
    return with_l2_norm_arrow(e).select(
        "vec_id", F.round("l2_norm", 6).alias("l2_norm")
    )


SQL_EMB_NORMS = """
SELECT vec_id,
       ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
FROM embeddings
"""


def q_lsh_recall_vs_exact(spark, sf_dir):
    """Agreement gate for the LSH path: overlap of lsh_topk's top-10
    with the exact brute-force top-10 (same query vector and params as
    q_lsh_topk). Everything is deterministic — fixed hyperplane seed,
    fixed data — so the overlap is a constant of the sf0.01 corpus and
    the oracle pins it (3/10: the testdata embeddings are near-random,
    the worst case for ANN; recall floors on clustered data are
    pytest-checked in test_similarity.py). A hash-family change, a
    signature bug, or a top-k plan regression all move this number."""
    e = _t(spark, sf_dir, "embeddings")
    q = query_vector(e)
    exact = brute_force_topk(e, q, k=10).select("vec_id")
    approx = lsh_topk(e, q, k=10, n_bits=12, max_hamming=3).select("vec_id")
    return recall_vs_exact(exact, approx, "vec_id")


SQL_LSH_RECALL = """
SELECT CAST(10 AS BIGINT) AS n_exact, CAST(3 AS BIGINT) AS n_overlap, 0.3 AS recall
"""


def q_ivf_recall_vs_exact(spark, sf_dir):
    """Agreement gate for the IVF path (same params as q_ivf_topk:
    16 cells, nprobe=4 — a 4x scan reduction). Deterministic overlap
    with the exact top-10, pinned at 7/10 for the sf0.01 corpus."""
    e = _t(spark, sf_dir, "embeddings")
    q = query_vector(e)
    exact = brute_force_topk(e, q, k=10).select("vec_id")
    assigned, C = ivf_build(e, n_cells=16)
    approx = ivf_topk(assigned, C, q, k=10, nprobe=4).select("vec_id")
    return recall_vs_exact(exact, approx, "vec_id")


SQL_IVF_RECALL = """
SELECT CAST(10 AS BIGINT) AS n_exact, CAST(7 AS BIGINT) AS n_overlap, 0.7 AS recall
"""


def q_segment_dedup(spark, sf_dir):
    """Corpus-wide keep-first segment dedup (the C4 repeated-
    paragraph/line rule over 16-word blocks) on docs ∪ mutated copies:
    each mutant shares all full segments with its original, so its
    repeated blocks vanish and only genuinely new tail content
    survives. Oracle: DuckDB window keep-first over the same segment
    construction (hashed=False so the group key is the raw normalized
    segment string on both engines)."""
    from fte.operators.dedup import segment_dedup

    # aggregate-bound token pipeline: the spread exchange amortizes
    # only above ~2 MB of text (r6 sf0.1-vs-replica A/B)
    d = _docs_with_mutants(spark, sf_dir, min_bytes=2 << 20)
    return segment_dedup(d, seg_words=16, hashed=False)


SQL_SEGMENT_DEDUP = f"""
WITH u AS ({SQL_DOCS_MUT}),
w AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM u
), s AS (
  SELECT doc_id, ws,
         UNNEST(generate_series(0, greatest((len(ws) - 1) // 16, 0))) AS seg_idx
  FROM w
), segs AS (
  SELECT doc_id, seg_idx,
         array_to_string(ws[seg_idx * 16 + 1 : seg_idx * 16 + 16], ' ') AS segment
  FROM s
), own AS (
  SELECT doc_id, seg_idx, segment,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn
  FROM segs
), kept AS (
  SELECT doc_id, seg_idx, segment FROM own WHERE rn = 1
), tot AS (
  SELECT doc_id,
         greatest(CAST(ceil(len(ws) / CAST(16 AS DOUBLE)) AS BIGINT), 1) AS n_segs
  FROM w
)
SELECT k.doc_id, tot.n_segs, CAST(COUNT(*) AS BIGINT) AS n_kept,
       string_agg(k.segment, ' ' ORDER BY k.seg_idx) AS text_dedup
FROM kept k JOIN tot USING (doc_id)
GROUP BY k.doc_id, tot.n_segs
"""


def q_token_fertility(spark, sf_dir):
    """Tokenizer-fertility stats per doc: BPE-ish subword count
    (regex pre-tokenization proxy) over whitespace words — the cheap
    curation signal for scripts/noise that explode token budgets
    (fertility = subwords/word, chars_per_token)."""
    from fte.operators.text import bpe_ish_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    n_words = token_count("text")
    n_bpe = bpe_ish_token_count("text")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_bpe.alias("n_bpe"),
        F.round(
            n_bpe.cast("double") / F.greatest(n_words, F.lit(1)).cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.length("text").cast("double") / F.greatest(n_bpe, F.lit(1)).cast("double"), 6
        ).alias("chars_per_token"),
    )


SQL_TOKEN_FERTILITY = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS n_bpe,
         CAST(LENGTH(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_words, n_bpe,
       ROUND(CAST(n_bpe AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS fertility,
       ROUND(CAST(n_chars AS DOUBLE) / CAST(greatest(n_bpe, 1) AS DOUBLE), 6) AS chars_per_token
FROM t
"""


def q_minhash_recall_vs_exact(spark, sf_dir):
    """Agreement gate for the MinHash-LSH path (mirrors
    lsh_recall_vs_exact): recall of minhash_lsh_pairs (32 hashes, 8
    bands, verify at jaccard>=0.5 — the q_minhash_neardup config)
    against the ORACLE-CHECKED exact 3-gram-Jaccard pair set
    (q_ngram_neardup). Everything is deterministic — fixed hash
    constants, fixed corpus — so the overlap is a constant of sf0.01
    and the oracle pins it (593/600: the 7 missed pairs are banding
    misses near the 0.5 threshold, where 8-band collision probability
    is ~0.59). A hash-family change, a banding bug, or a verify-stage
    regression all move this number."""
    from fte.operators.text import token_count

    d = _docs_with_mutants(spark, sf_dir)
    d3 = d.filter(token_count("text") >= 3)
    exact = ngram_jaccard_pairs(d3, k=3, threshold=0.5).select("id_a", "id_b")
    approx = minhash_lsh_pairs(
        d, num_hashes=32, bands=8, jaccard_threshold=0.5
    ).select("id_a", "id_b")
    return recall_vs_exact(exact, approx, ["id_a", "id_b"])


SQL_MINHASH_RECALL = """
SELECT CAST(600 AS BIGINT) AS n_exact, CAST(593 AS BIGINT) AS n_overlap,
       CAST(593 AS DOUBLE) / CAST(600 AS DOUBLE) AS recall
"""


def q_simhash_recall_vs_exact(spark, sf_dir):
    """Totality gate for the SimHash pigeonhole path: candidates from
    max_hamming+1 blocks must find EVERY pair at hamming<=6 — recall
    vs a brute-force all-pairs hamming scan over the same signature
    table is exactly 1.0 BY CONSTRUCTION (a pair differing in <=6
    bits differs in at most 6 of the 7 blocks, so agrees on one).
    935 qualifying pairs at sf0.01; any block-layout bug breaks this."""
    from fte.operators.dedup import hamming64, simhash_table

    d = _docs_with_mutants(spark, sf_dir)
    s = simhash_table(d)
    a = s.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_sa"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sb"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming64(F.col("_sa"), F.col("_sb")) <= 6)
        .select("id_a", "id_b")
    )
    approx = simhash_pairs(d, max_hamming=6).select("id_a", "id_b")
    return recall_vs_exact(exact, approx, ["id_a", "id_b"])


SQL_SIMHASH_RECALL = """
SELECT CAST(935 AS BIGINT) AS n_exact, CAST(935 AS BIGINT) AS n_overlap,
       CAST(1.0 AS DOUBLE) AS recall
"""


def catalog_ml():
    return {
        "doc_dedup_norm": (q_doc_dedup_norm, SQL_DOC_DEDUP_NORM),
        "ngram_neardup": (q_ngram_neardup, SQL_NGRAM_NEARDUP),
        "minhash_neardup": (q_minhash_neardup, None),
        "incremental_neardup": (q_incremental_neardup, SQL_INCREMENTAL_NEARDUP),
        "simhash_neardup": (q_simhash_neardup, None),
        "token_stats": (q_token_stats, SQL_TOKEN_STATS),
        "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
        "lang_id": (q_lang_id, _sql_lang_id()),
        "emb_top_pairs": (q_emb_top_pairs, SQL_EMB_TOP_PAIRS),
        "emb_top_pairs_gemm": (q_emb_top_pairs_gemm, SQL_EMB_TOP_PAIRS),
        "knn_batch": (q_knn_batch, SQL_KNN_BATCH),
        "lsh_topk": (q_lsh_topk, None),
        "ivf_topk": (q_ivf_topk, None),
        "lsh_recall_vs_exact": (q_lsh_recall_vs_exact, SQL_LSH_RECALL),
        "ivf_recall_vs_exact": (q_ivf_recall_vs_exact, SQL_IVF_RECALL),
        "minhash_recall_vs_exact": (q_minhash_recall_vs_exact, SQL_MINHASH_RECALL),
        "simhash_recall_vs_exact": (q_simhash_recall_vs_exact, SQL_SIMHASH_RECALL),
        "segment_dedup": (q_segment_dedup, SQL_SEGMENT_DEDUP),
        "token_fertility": (q_token_fertility, SQL_TOKEN_FERTILITY),
        "ivf_knn_batch": (q_ivf_knn_batch, None),
        "ivf_knn_recall_vs_exact": (q_ivf_knn_recall_vs_exact, SQL_IVF_KNN_RECALL),
        "canonical_per_cluster": (q_canonical_per_cluster, SQL_CANONICAL),
        "shuffle_order": (q_shuffle_order, SQL_SHUFFLE_ORDER),
        "emb_norms": (q_emb_norms, SQL_EMB_NORMS),
        "emb_neardup": (q_emb_neardup, SQL_EMB_NEARDUP),
        "dup_components": (q_dup_components, SQL_DUP_COMPONENTS),
        "winnow_fp": (q_winnow_fp, SQL_WINNOW_FP),
        "winnow_pairs": (q_winnow_pairs, SQL_WINNOW_PAIRS),
        "hash_split": (q_hash_split, SQL_HASH_SPLIT),
        "pack_bins": (q_pack_bins, SQL_PACK_BINS),
        "curation_funnel": (q_curation_funnel, _sql_curation_funnel()),
        "top_terms": (q_top_terms, SQL_TOP_TERMS),
        "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    }
