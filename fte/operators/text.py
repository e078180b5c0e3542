"""Text-analysis operators for training-data pipelines.

All pure JVM whole-stage-codegen expressions (regexp_count /
regexp_replace / length / xxhash64) — no Python, and no interpreted
higher-order-function lambdas in the hot path (per-token HOF filters
are ~100 µs/element; language ID is one boundary-anchored
regexp_count per profile). These are the per-document analogs of the
per-turn text features in fte.features.library, aimed at corpus
curation at 100 TB: language ID, quality scoring, token counting,
fingerprinting, repetition filters, chunking and BM25 retrieval.

Each text decision has one definition: what a word is
(``fte.functions.words`` over ``fte.functions.norm_text``), the
word k-gram generator (``_word_grams``, behind shingles, winnowing
and the repetition bigrams), the chunker (``chunk_documents``, which
``segment_rows`` keys) and the BM25 scorer (``_bm25``, behind
``bm25_scores`` and ``bm25_topk_batch``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fte.functions import norm_text, words

# Tiny stopword profiles for an n-gram-free language-ID heuristic:
# score(lang) = fraction of tokens that are stopwords of that lang.
# Deliberately small + deterministic; real deployments swap in a model
# via the same column contract.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ich", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "des", "est", "un", "une", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "que", "por", "con"),
}

# BPE-ish token regex: words, numbers, or single non-space symbols —
# a cheap proxy for subword tokenizers' pre-tokenization.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count(col: Column | str) -> Column:
    """Whitespace token count (empty string → 0): number of maximal
    non-space runs via regexp_count — pure JVM codegen, no per-token
    interpreted lambda (identical to size(filter(split(trim(c),
    '\\s+'), w -> w != '')) without the interpreted filter — the HOF
    tokenizer was deleted so it can't leak into hot paths)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"\S+")).cast("long")


def _stopword_hits(c: Column, stops: tuple[str, ...]) -> Column:
    """Count of whitespace tokens (case-folded) equal to any of
    ``stops``: one codegen regexp_count with whitespace-boundary
    lookarounds — exactly size(filter(toks, w -> w IN words)) without
    the interpreted per-token lambda (~100µs/element; lang_id was the
    slowest doc query before this rewrite). Words must be regex-safe
    (alphabetic); boundaries are (?<=^|\\s)/(?=\\s|$), the same \\s
    class whitespace tokenization splits on, so a match is a FULL
    token."""
    pat = r"(?<=^|\s)(" + "|".join(stops) + r")(?=\s|$)"
    return F.regexp_count(F.lower(c), F.lit(pat))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count via regexp extraction."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0))).cast("long")


def lang_scores(col: Column | str) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    out = {}
    for lang, stops in LANG_PROFILES.items():
        hits = _stopword_hits(c, stops)
        out[lang] = (hits / F.greatest(n_tok, F.lit(1))).cast("double")
    return out


def with_lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """argmax over stopword-profile scores; 'und' (undetermined) when
    no profile scores > 0."""
    scores = lang_scores(text_col)
    pairs = F.array(
        *[F.struct(s.alias("score"), F.lit(l).alias("lang")) for l, s in scores.items()]
    )
    best = F.array_max(pairs)
    return df.withColumns({
        out_col: F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
        "lang_score": best["score"],
    })


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality heuristics (Gopher/C4-style cheap filters):
    char/token counts, mean word length, stopword/punct/upper/digit
    ratios, and a [0,1] composite score. All one projection."""
    c = F.col(text_col)
    # all-codegen formulation: token count = non-space runs, sum of
    # token lengths = non-space char count — no interpreted HOF folds
    n_tok = token_count(c).cast("int")
    n_chars = F.length(c)
    stop_ratio = _stopword_hits(c, LANG_PROFILES["en"]) / F.greatest(n_tok, F.lit(1))
    punct_ratio = F.length(F.regexp_replace(c, r"[^.,;:!?]", "")) / F.greatest(n_chars, F.lit(1))
    upper_ratio = F.length(F.regexp_replace(c, r"[^A-Z]", "")) / F.greatest(n_chars, F.lit(1))
    digit_ratio = F.length(F.regexp_replace(c, r"[^0-9]", "")) / F.greatest(n_chars, F.lit(1))
    mean_word_len = (
        F.length(F.regexp_replace(c, r"\s", "")).cast("long")
        / F.greatest(n_tok, F.lit(1))
    )
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word_len >= 2) & (mean_word_len <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((punct_ratio <= 0.2) & (upper_ratio <= 0.3) & (digit_ratio <= 0.3), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return df.withColumns({
        "n_tokens": n_tok.cast("long"),
        "mean_word_len": mean_word_len.cast("double"),
        "stopword_ratio": stop_ratio.cast("double"),
        "punct_ratio": punct_ratio.cast("double"),
        "upper_ratio": upper_ratio.cast("double"),
        "digit_ratio": digit_ratio.cast("double"),
        "quality_score": score.cast("double"),
    })


def with_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: xxhash64 of whitespace-normalized,
    lowercased text — robust to formatting-only edits. Used as the
    exact-dedup key at scale (group on 64-bit int, not the raw text)."""
    norm = norm_text(text_col)
    return df.withColumn(out_col, F.xxhash64(norm))


def _word_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, Column]:
    """Every k-word gram of every doc: a frame with one row per gram
    start ``_i`` (0-based; columns id_col, _ws, _n, _i, where ``_n`` is
    the doc's word count) and the gram Column over it. Docs shorter
    than k words have one whole-text gram at ``_i`` = 0. The caller
    projects and names the gram, so each plan keeps its own column
    names.

    Grams come straight off the per-doc words array: ``sequence`` of
    gram starts → ``explode`` → ``slice`` + ``array_join``. Every step
    is whole-stage codegen, with no interpreted higher-order lambda and
    no shuffle: generating grams over 100 TB is one pass over the scan,
    and the consumer (an aggregate, a window, a join) adds the only
    exchange.
    """
    ws = words(text_col)
    base = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.size(ws).alias("_n"),
    ).select(
        id_col,
        "_ws",
        "_n",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("_n") - k, F.lit(0)))
        ).alias("_i"),
    )
    gram = F.when(
        F.col("_n") >= k,
        F.array_join(F.slice("_ws", F.col("_i") + 1, k), " "),
    ).otherwise(F.array_join("_ws", " "))
    return base, gram


def with_repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_distinct_word_ratio: float = 0.2,
    max_top_word_ratio: float = 0.2,
    max_dup_bigram_ratio: float = 0.9,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, public):
    distinct-word ratio, most-frequent-word dominance, duplicate-bigram
    fraction, and a composite ``repetition_keep`` flag. Boilerplate-
    and spam-heavy web text fails these long before perplexity filters
    see it.

    Scale shape: words are exploded off the per-doc words array and
    bigrams come from ``_word_grams`` (k = 2, docs of ≥ 2 words), so
    both are scan-side codegen with no shuffle; the only exchanges are
    the map-side-combining hash aggregates on (id, gram). The raw text
    never leaves the initial projection.
    """
    ex = df.select(F.col(id_col), F.explode(words(text_col)).alias("_w"))
    word_stats = (
        ex.groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.max("_c").cast("long").alias("top_word_count"),
        )
    )
    base, gram = _word_grams(df, id_col, text_col, 2)
    bg = base.filter(F.col("_n") >= 2).select(id_col, gram.alias("_bg"))
    bigram_stats = bg.groupBy(id_col).agg(
        F.count_distinct(F.col("_bg")).cast("long").alias("n_distinct_bigrams"),
        F.count(F.col("_bg")).cast("long").alias("n_bigrams"),
    )
    j = word_stats.join(bigram_stats, id_col, "left").na.fill(
        0, ["n_distinct_bigrams", "n_bigrams"]
    )
    dwr = (F.col("n_distinct_words").cast("double") / F.col("n_words")).alias(
        "distinct_word_ratio"
    )
    dbr = F.when(
        F.col("n_bigrams") > 0,
        F.lit(1.0) - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams"),
    ).otherwise(F.lit(0.0))
    return j.select(
        id_col, "n_words", "n_distinct_words", "top_word_count",
        "n_distinct_bigrams", "n_bigrams",
        dwr,
        dbr.alias("dup_bigram_ratio"),
        (
            (F.col("n_distinct_words").cast("double") / F.col("n_words")
             >= F.lit(min_distinct_word_ratio))
            & (F.col("top_word_count").cast("double") / F.col("n_words")
               <= F.lit(max_top_word_ratio))
            & (dbr <= F.lit(max_dup_bigram_ratio))
        ).alias("repetition_keep"),
    )


# PII patterns: lookaround-free so Java regex (Spark) and RE2 (DuckDB
# oracle) match identically. Applied in list order; replacement tokens
# contain no digits so later patterns cannot re-match inside them.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """PII scrub for training corpora: counts each pattern family on
    the ORIGINAL text (audit columns n_emails/n_phones/n_ssns), then
    rewrites the text with typed placeholder tokens. Pure codegen
    (regexp_count / regexp_replace chain), one projection, no shuffle —
    runs at parquet-scan speed and composes with the curation funnel.
    """
    c = F.col(text_col)
    red = c
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return df.withColumns({
        **{f"n_{name}s": F.regexp_count(c, F.lit(pat)).cast("long")
           for name, pat, _ in PII_PATTERNS},
        out_col: red,
    })


def chunk_documents(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    chunk_words: int = 32, stride: int = 24,
) -> DataFrame:
    """RAG chunking: split each document into overlapping word windows
    of ``chunk_words`` words every ``stride`` words (trailing chunk may
    be shorter; overlap = chunk_words - stride). Pure generate —
    sequence + posexplode + slice + array_join, all codegen, ZERO
    shuffles: chunking 100 TB is exactly one pass over the scan.

    A start is generated only while the PREVIOUS chunk stops short of
    the document end (start < n - chunk_words + stride, capped at
    n - 1 so no start is past the text): a trailing chunk that is a
    strict subset of its predecessor would duplicate training text.
    Short docs (n <= chunk_words) emit exactly one chunk.

    Output: (id_col, chunk_idx, n_chunk_words, chunk).
    """
    ws = words(text_col)
    last_start = F.greatest(
        F.least(F.col("_n") - 1, F.col("_n") - chunk_words + stride - 1),
        F.lit(0),
    )
    base = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.size(ws).alias("_n"),
    ).select(
        id_col, "_ws", "_n",
        F.posexplode(
            F.sequence(F.lit(0), last_start, F.lit(stride))
        ).alias("chunk_idx", "_start"),
    )
    return base.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.lit(chunk_words), F.col("_n") - F.col("_start"))
        .cast("long")
        .alias("n_chunk_words"),
        F.array_join(F.slice("_ws", F.col("_start") + 1, chunk_words), " ").alias("chunk"),
    )


def _bm25(
    df: DataFrame, queries: dict[int, tuple[str, ...]], id_col: str,
    text_col: str, k1: float, b: float,
) -> DataFrame:
    """BM25 (Robertson/Sparck Jones, public) scores of every doc against
    every query of a (query_id → term bag) batch: the one scorer behind
    ``bm25_scores`` and ``bm25_topk_batch``.

    Term rule: a repeated term counts once (first occurrence wins) and
    a query with no terms drops out; an empty batch returns an empty
    frame of the output schema.

    Corpus statistics (per-doc length, per-(query, term) document
    frequency, N, avgdl) come from one explode + hash aggregates; the
    query table (query_id, term) and the df/avgdl rows are broadcast.
    The per-(query, doc) score is a FIXED-ORDER sum over the term index
    (one conditional aggregate per index, summed s0+s1+...), so a SQL
    oracle reproduces the float bit-for-bit — a SUM over an
    arbitrary-order group differs in the last ulp, and a rank flip at a
    rounding boundary would make the oracle flaky.

    Output: (query_id, id_col, n_words, n_hit_terms, bm25) for every
    (query, doc) pair hitting ≥ 1 term.
    """
    spark = df.sparkSession
    queries = {
        q: tuple(dict.fromkeys(terms))
        for q, terms in queries.items()
        if terms
    }
    if not queries:
        id_type = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [],
            f"query_id int, {id_col} {id_type}, n_words long, "
            "n_hit_terms long, bm25 double",
        )
    qrows = [
        (int(q), t, i)
        for q, terms in queries.items()
        for i, t in enumerate(terms)
    ]
    qdf = spark.createDataFrame(qrows, "query_id int, _w string, _ti int")
    max_terms = max(len(terms) for terms in queries.values())

    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("_w"))
    # the per-doc-length aggregate is consumed by BOTH the corpus stats
    # and the score join; checkpoint it once so one action explodes the
    # corpus for dl once, not per consumer
    dl = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_words")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg(F.col("n_words").cast("double")).alias("_avgdl"),
    )
    # hits per (query, doc, term): broadcast the query-term table onto
    # the token stream, then count
    tf = (
        tok.join(F.broadcast(qdf), "_w")
        .groupBy("query_id", id_col, "_w", "_ti")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    dfreq = tf.groupBy("query_id", "_w").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    j = (
        tf.join(F.broadcast(dfreq), ["query_id", "_w"])
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("_n_docs") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("n_words") / F.col("_avgdl")
    )
    per_term = [
        F.max(F.when(F.col("_ti") == i, F.col("_s"))).alias(f"_s{i}")
        for i in range(max_terms)
    ]
    agg = (
        j.withColumn("_s", idf * F.col("_tf") * F.lit(k1 + 1.0) / denom)
        .groupBy("query_id", id_col)
        .agg(
            # n_words is constant per doc: carrying it through the agg
            # avoids a second join against the dl subtree
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            *per_term,
        )
    )
    total = F.coalesce(F.col("_s0"), F.lit(0.0))
    for i in range(1, max_terms):
        total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    return agg.select("query_id", id_col, "n_words", "n_hit_terms", total.alias("bm25"))


def bm25_scores(
    df: DataFrame, terms: tuple[str, ...], id_col: str = "doc_id",
    text_col: str = "text", k1: float = 1.2, b: float = 0.75,
) -> DataFrame:
    """BM25 document scores for one fixed bag of query terms: ``_bm25``
    over a one-query batch (same term rule: a repeated term counts
    once, an empty bag gives an empty frame).

    At 100 TB the doc-length and df tables would be precomputed once
    and reused across queries; the declarative form here lets Catalyst
    reuse the exploded exchange within one plan.

    Output: (id_col, n_words, n_hit_terms, bm25) for docs hitting ≥ 1
    term.
    """
    return _bm25(df, {0: terms}, id_col, text_col, k1, b).drop("query_id")


def unigram_logprob_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """Unigram-LM cross-entropy per document — the cheap stand-in for
    CCNet-style LM perplexity filtering (Wenzek et al. 2020, public):
    documents whose words are atypical for the corpus (spam, boiler-
    plate, wrong language) score high.  xent(d) = mean over tokens of
    -ln p(w), with additive smoothing p(w) = (c_w + a)/(N + a·V).

    Scale shape: one explode + hash aggregate builds the vocabulary
    (bounded by corpus vocab, not corpus size) which is BROADCAST back
    onto the token stream; the per-doc mean is a second hash aggregate
    on id_col. The corpus never shuffles on the word key beyond the
    vocab count. In production the vocab table is computed once and
    reused across scoring runs.

    Output: (id_col, n_words, xent) — lower xent = more corpus-typical.
    """
    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("_w"))
    # r6: the vocab aggregate is consumed twice (totals + the
    # broadcast back onto the token stream); checkpoint it once so a
    # single action explodes the corpus for vocab once, not per
    # consumer (intra-plan reuse, same pattern as the bm25 dl).
    vocab = tok.groupBy("_w").agg(
        F.count(F.lit(1)).cast("double").alias("_c")
    ).localCheckpoint(eager=False)
    totals = vocab.agg(
        F.sum("_c").alias("_n_total"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    a = float(smoothing)
    scored = tok.join(F.broadcast(vocab), "_w").crossJoin(F.broadcast(totals))
    logp = F.log(
        (F.col("_c") + F.lit(a)) / (F.col("_n_total") + F.lit(a) * F.col("_v"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.avg(-logp).alias("xent"),
        )
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS rolling-fingerprint scheme): hash every
    word k-gram, slide a window of ``window`` consecutive gram hashes,
    keep the minimum of each window, emit the distinct selected hashes
    per doc. Guarantees: any shared run of ≥ k+window-1 words between
    two docs shares at least one selected fingerprint, while storing
    only ~1/window of the grams.

    The grams are ``_word_grams`` (scan-side codegen, no shuffle),
    each hashed with md5; one trailing MIN window over the gram start
    selects the fingerprints, then a distinct — one shuffle on id_col.
    Hashes are md5 hex strings so a SQL oracle can reproduce them
    exactly (xxhash64 is Spark-only); swap to xxhash64 for production
    compactness. A doc shorter than k words has one whole-text gram,
    and a doc with fewer than ``window`` grams emits the min over all
    its grams (the last gram's trailing window).

    Output: (id_col, fp string) distinct rows.
    """
    base, gram = _word_grams(df, id_col, text_col, k)
    grams = base.select(
        id_col,
        "_i",
        F.greatest(F.col("_n") - k + 1, F.lit(1)).alias("_ngrams"),
        F.md5(gram).alias("_gh"),
    )
    wmin = Window.partitionBy(id_col).orderBy("_i").rowsBetween(-(window - 1), 0)
    selected = (
        grams.withColumn("_sel", F.min("_gh").over(wmin))
        # emit one selection per full window; short docs emit the last
        # gram's (all-covering) trailing window
        .filter((F.col("_i") >= window - 1) | (F.col("_i") == F.col("_ngrams") - 1))
        .select(id_col, F.col("_sel").alias("fp"))
    )
    return selected.distinct()


def chunk_documents_udtf(
    spark, df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    chunk_words: int = 32, stride: int = 24,
) -> DataFrame:
    """Python UDTF twin of ``chunk_documents`` — the SURVEY §2.B
    UDTF-surface demo (table function fan-out via LATERAL join),
    Arrow-optimized (``useArrow=True``: batched transfer, not the
    banned row-at-a-time scalar-UDF path). Exists to exercise the surface
    and as the extension point for chunkers that genuinely need Python
    (model-based sentence segmentation); the whole-stage-codegen
    ``chunk_documents`` remains the 100 TB path — same output,
    parity-tested. ``eval`` restates ``fte.functions.words`` exactly:
    strip spaces only, collapse Java ``\\s`` runs (ASCII whitespace),
    lowercase, split on the single space.
    """
    import re

    from pyspark.sql.functions import udtf

    cw, st = int(chunk_words), int(stride)
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @udtf(returnType="chunk_idx: bigint, n_chunk_words: bigint, chunk: string",
          useArrow=True)
    class ChunkDoc:
        def eval(self, text: str):
            words = ws.sub(" ", str(text or "").strip(" ")).lower().split(" ")
            n = len(words)
            # same stop rule as chunk_documents: no start once the
            # previous chunk already reaches the end (subset chunks
            # duplicate training text)
            last = max(min(n - 1, n - cw + st - 1), 0)
            for ci, start in enumerate(range(0, last + 1, st)):
                piece = words[start:start + cw]
                yield ci, len(piece), " ".join(piece)

    name = f"fte_chunk_doc_{cw}_{st}"
    spark.udtf.register(name, ChunkDoc)
    df.select(F.col(id_col), F.col(text_col).alias("_t")).createOrReplaceTempView(
        f"_{name}_in"
    )
    return spark.sql(
        f"SELECT i.{id_col}, c.chunk_idx, c.n_chunk_words, c.chunk "
        f"FROM _{name}_in i, LATERAL {name}(_t) c"
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: dict[int, tuple[str, ...]],
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    n_salts: int = 32,
) -> DataFrame:
    """Batch BM25 retrieval: top-k docs for EVERY query in one pass —
    the retrieval-join shape (mirrors knn_join for embeddings). Scores
    come from ``_bm25`` (one corpus explode for the whole batch; a
    repeated term counts once, a termless query drops out, an empty
    batch gives an empty frame of the output schema).

    Per-query top-k is TWO-PHASE: a (query_id, salt)-partitioned
    window keeps a local top-k per salt shard, then the final
    query-partitioned window ranks at most k * n_salts survivors per
    query. A single hot query term shared by every doc (stopword-ish
    queries are common) would otherwise funnel the WHOLE corpus
    through one window partition — the per-query candidate set is not
    bounded the way LSH buckets are.

    Output: (query_id, rank, doc_id, n_hit_terms, bm25).
    """
    scored = _bm25(df, queries, id_col, text_col, k1, b)
    order = [F.desc("bm25"), F.asc(id_col)]
    # phase 1: local top-k within (query, salt) — bounds any one
    # window partition at ~n_candidates / n_salts rows
    salted = scored.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts))
    )
    w_local = Window.partitionBy("query_id", "_salt").orderBy(*order)
    local = (
        salted.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
    )
    # phase 2: exact rank over <= k * n_salts survivors per query
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "n_hit_terms", "bm25")
    )


def fuzzy_join(
    corpus: DataFrame,
    probes: DataFrame,
    corpus_text: str = "text",
    probe_text: str = "probe_text",
    max_dist: int = 5,
) -> DataFrame:
    """Approximate string matching: join a (small, broadcastable) probe
    set against the corpus on Levenshtein distance ≤ ``max_dist`` —
    the entity-resolution / near-title-match primitive ("find the
    corpus doc this slightly-mangled string came from").

    Shape: broadcast nested-loop on the probe side (probes must be
    broadcast-small — the realistic use: 10²–10⁴ reference strings vs
    a 100 TB corpus) with a LENGTH-BAND prefilter
    |len(a) − len(b)| ≤ max_dist evaluated BEFORE the O(len²)
    levenshtein, so the quadratic DP runs only on length-plausible
    pairs (edit distance is ≥ the length difference, so the band
    never drops a true match). Spark 3.5+ evaluates the bounded
    3-arg levenshtein with early-exit at the threshold. For probe
    sets too large to broadcast, pre-bucket both sides by
    (length-band, first-char) and shuffle-join the buckets instead.

    Returns (probe columns…, corpus columns…, lev_dist long); the two
    frames must not share column names (rename before calling — the
    join would otherwise produce ambiguous output columns).
    """
    lb = F.length(F.col(corpus_text)) - F.length(F.col(probe_text))
    # bounded levenshtein returns -1 when the distance EXCEEDS the
    # threshold — gate on >= 0, not on <= max_dist (a -1 would pass)
    bounded = F.levenshtein(F.col(corpus_text), F.col(probe_text), max_dist)
    cond = (lb <= max_dist) & (-lb <= max_dist) & (bounded >= 0)
    joined = corpus.join(F.broadcast(probes), cond)
    return joined.withColumn(
        "lev_dist",
        F.levenshtein(F.col(corpus_text), F.col(probe_text)).cast("long"),
    )
