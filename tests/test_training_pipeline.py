"""Tests for round-2 training-pipeline operators: training-pair
extraction, SFT rendering, repetition filters, PII redaction, RAG
chunking, BM25. Engine parity vs hand-computed pandas references on
the synthetic transcripts fixture + planted adversarial docs."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fte.operators.pairs import make_training_pairs, render_conversations
from fte.operators.text import (
    bm25_scores,
    chunk_documents,
    redact_pii,
    with_repetition_stats,
)


# ---------------------------------------------------------------- pairs

def test_training_pairs_match_pandas(spark, transcripts_df, transcripts_pdf):
    out = (
        make_training_pairs(
            transcripts_df, context_turns=4, response_role="assistant"
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    # pandas reference: per conv, context = previous <=4 rendered turns
    rows = []
    pdf = transcripts_pdf.sort_values(["conv_id", "turn_idx"])
    for conv, g in pdf.groupby("conv_id"):
        rend = (g["role"] + ": " + g["text"]).tolist()
        roles = g["role"].tolist()
        idxs = g["turn_idx"].tolist()
        for i in range(len(g)):
            if roles[i] != "assistant":
                continue
            ctx = rend[max(0, i - 4):i]
            rows.append(
                (conv, idxs[i], len(ctx), "\n".join(ctx), rend[i])
            )
    ref = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "n_context", "context", "response"]
    ).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(out) == len(ref) > 0
    for c in ["conv_id", "turn_idx", "n_context", "context", "response"]:
        assert out[c].tolist() == ref[c].tolist(), c


def test_training_pairs_no_leakage(spark):
    """The response turn and later turns must never appear in context.
    Unique per-turn marker tokens make containment checks exact."""
    rows = [
        ("c1", i, "assistant" if i % 2 else "user", f"tok{i}x", None,
         pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    out = make_training_pairs(df, context_turns=5).toPandas()
    assert len(out) == 6
    for _, r in out.iterrows():
        i = r["turn_idx"]
        for j in range(i, 12):
            assert f"tok{j}x" not in r["context"], (i, j)
        # the immediately preceding turn IS present (i >= 1 here)
        assert f"tok{i-1}x" in r["context"]


def test_render_conversations_order_and_cap(spark):
    rows = [
        ("c1", i, "user", f"t{i}", None,
         pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=100 - i))
        for i in range(6)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    full = render_conversations(df).toPandas()
    assert full.loc[0, "n_turns"] == 6
    # ordered by turn_idx despite reversed timestamps and input order
    assert full.loc[0, "sft_text"] == "\n".join(f"user: t{i}" for i in range(6))
    capped = render_conversations(df, max_turns=2).toPandas()
    assert capped.loc[0, "sft_text"] == "user: t4\nuser: t5"  # LAST 2 turns


# ---------------------------------------------------------------- repetition

def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_repetition_stats_flags_spam(spark):
    clean = "the quick brown fox jumps over a lazy dog near the old river bank"
    spam = "buy now " * 30  # 2 distinct words, all bigrams repeat
    out = (
        with_repetition_stats(_docs(spark, [clean, spam]))
        .orderBy("doc_id")
        .toPandas()
    )
    assert bool(out.loc[0, "repetition_keep"])
    assert not bool(out.loc[1, "repetition_keep"])
    # exact values for the spam doc: 60 words, 2 distinct, 59 bigrams,
    # 2 distinct bigrams ("buy now", "now buy")
    assert out.loc[1, "n_words"] == 60
    assert out.loc[1, "n_distinct_words"] == 2
    assert out.loc[1, "top_word_count"] == 30
    assert out.loc[1, "n_distinct_bigrams"] == 2
    assert out.loc[1, "dup_bigram_ratio"] == pytest.approx(1 - 2 / 59)


def test_repetition_single_word_doc(spark):
    out = with_repetition_stats(_docs(spark, ["solo"])).toPandas()
    assert out.loc[0, "n_words"] == 1
    assert out.loc[0, "n_distinct_bigrams"] == 0
    assert out.loc[0, "dup_bigram_ratio"] == 0.0


# ---------------------------------------------------------------- PII

def test_redact_pii(spark):
    txt = (
        "mail a.b-c_d%x+1@sub.example.co.uk or bob@x.io, call +1-555-0199 "
        "or 44-201-9999; ssn 987-65-4320 ok digits 12345 stay"
    )
    out = redact_pii(_docs(spark, [txt])).toPandas()
    assert out.loc[0, "n_emails"] == 2
    assert out.loc[0, "n_phones"] == 2
    assert out.loc[0, "n_ssns"] == 1
    red = out.loc[0, "text_redacted"]
    assert "<EMAIL>" in red and "<PHONE>" in red and "<SSN>" in red
    assert "@" not in red and "987-65" not in red and "555-0199" not in red
    assert "digits 12345 stay" in red  # plain numbers untouched


# ---------------------------------------------------------------- chunks

def test_chunk_documents_coverage_and_overlap(spark):
    words = [f"w{i}" for i in range(100)]
    out = (
        chunk_documents(_docs(spark, [" ".join(words)]), chunk_words=32, stride=24)
        .orderBy("chunk_idx")
        .toPandas()
    )
    # starts 0,24,48,72 -> 4 chunks; start 96 is suppressed because
    # chunk 3 (72..99) already reaches the end — a 96..99 chunk would
    # be a strict subset of it (duplicated training text)
    assert out["chunk_idx"].tolist() == [0, 1, 2, 3]
    assert out["n_chunk_words"].tolist() == [32, 32, 32, 28]
    chunks = [c.split(" ") for c in out["chunk"]]
    # every word covered, in order, with 8-word overlap between chunks
    assert chunks[0] == words[0:32]
    assert chunks[3] == words[72:100]
    covered = set(w for c in chunks for w in c)
    assert covered == set(words)
    assert chunks[0][-8:] == chunks[1][:8]
    # no chunk is contained in its predecessor
    for prev, cur in zip(chunks, chunks[1:]):
        assert not set(cur) <= set(prev)


def test_chunk_no_subset_trailing_chunk(spark):
    """ADVICE r2: n=26, chunk=32, stride=24 used to emit chunk 1 =
    words 25-26, a strict subset of chunk 0. Exactly one chunk now."""
    words = [f"w{i}" for i in range(26)]
    out = chunk_documents(
        _docs(spark, [" ".join(words)]), chunk_words=32, stride=24
    ).toPandas()
    assert len(out) == 1
    assert out.loc[0, "n_chunk_words"] == 26
    # boundary: n exactly chunk_words -> one chunk too
    out32 = chunk_documents(
        _docs(spark, [" ".join(f"x{i}" for i in range(32))]),
        chunk_words=32, stride=24,
    ).toPandas()
    assert len(out32) == 1
    # n = chunk_words + 1 -> second chunk needed for the last word
    out33 = chunk_documents(
        _docs(spark, [" ".join(f"y{i}" for i in range(33))]),
        chunk_words=32, stride=24,
    ).orderBy("chunk_idx").toPandas()
    assert out33["n_chunk_words"].tolist() == [32, 9]
    assert out33.loc[1, "chunk"].split(" ")[-1] == "y32"


def test_chunk_short_doc_single_chunk(spark):
    out = chunk_documents(_docs(spark, ["a b c"]), chunk_words=32, stride=24).toPandas()
    assert len(out) == 1
    assert out.loc[0, "chunk"] == "a b c"
    assert out.loc[0, "n_chunk_words"] == 3


# ---------------------------------------------------------------- BM25

def test_bm25_matches_closed_form(spark):
    texts = [
        "spark join window spark",      # tf: spark 2, join 1, window 1
        "spark filter scan",            # tf: spark 1
        "nothing relevant here",        # no hits -> absent from output
        "join join join join window",   # heavy join doc
    ]
    out = (
        bm25_scores(_docs(spark, texts), ("spark", "join", "window"))
        .orderBy("doc_id")
        .toPandas()
    )
    assert out["doc_id"].tolist() == [0, 1, 3]
    # closed-form reference
    dls = [4, 3, 3, 5]
    avgdl = sum(dls) / 4
    n_docs = 4.0
    dfreq = {"spark": 2.0, "join": 2.0, "window": 2.0}
    k1, b = 1.2, 0.75

    def score(tf, dl, term):
        idf = math.log((n_docs - dfreq[term] + 0.5) / (dfreq[term] + 0.5) + 1.0)
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp0 = score(2, 4, "spark") + score(1, 4, "join") + score(1, 4, "window")
    exp1 = score(1, 3, "spark")
    exp3 = score(4, 5, "join") + score(1, 5, "window")
    got = dict(zip(out["doc_id"], out["bm25"]))
    assert got[0] == pytest.approx(exp0, rel=1e-12)
    assert got[1] == pytest.approx(exp1, rel=1e-12)
    assert got[3] == pytest.approx(exp3, rel=1e-12)
    assert out.set_index("doc_id")["n_hit_terms"].to_dict() == {0: 3, 1: 1, 3: 2}


def test_bm25_term_rule(spark):
    """bm25_scores follows the batch path's term rule: a repeated term
    counts once, and an empty term bag gives an empty typed frame."""
    docs = _docs(spark, ["spark join window spark", "spark filter scan", "join"])

    def rows(terms):
        return sorted(map(tuple, bm25_scores(docs, terms).collect()))

    assert rows(("spark", "join", "spark")) == rows(("spark", "join"))
    empty = bm25_scores(docs, ())
    assert empty.columns == ["doc_id", "n_words", "n_hit_terms", "bm25"]
    assert empty.count() == 0


# ---------------------------------------------------------------- unigram LM

def test_unigram_xent_flags_atypical_docs(spark):
    """Docs made of corpus-typical words score lower cross-entropy than
    a doc of rare words; values match a closed-form numpy reference."""
    import math

    from fte.operators.text import unigram_logprob_scores

    texts = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "zyxqj vvqpz kkjxw zzzzq wwwwx qqqqy",  # all-rare doc
    ]
    out = (
        unigram_logprob_scores(_docs(spark, texts))
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    # closed form
    words = [t.split() for t in texts]
    from collections import Counter

    c = Counter(w for ws in words for w in ws)
    n, v, a = sum(c.values()), len(c), 0.5

    def xent(ws):
        return sum(-math.log((c[w] + a) / (n + a * v)) for w in ws) / len(ws)

    for i in range(3):
        assert out.loc[i, "xent"] == pytest.approx(xent(words[i]), rel=1e-12)
        assert out.loc[i, "n_words"] == len(words[i])
    assert out.loc[2, "xent"] > out.loc[0, "xent"] + 0.5  # rare >> typical


# ---------------------------------------------------------------- UDTF

def test_chunk_udtf_matches_codegen_chunker(spark):
    """The Arrow UDTF surface (LATERAL table function) produces exactly
    the codegen chunker's output on the same docs — including Unicode
    spaces (not word breaks for Java's ASCII ``\\s``) and a leading tab
    (``trim`` strips only spaces, so it becomes an empty first word)."""
    from fte.operators.text import chunk_documents, chunk_documents_udtf

    texts = [" ".join(f"w{i}" for i in range(n)) for n in (100, 40, 3, 1)] + [
        "alpha\u00a0beta gamma", "one\u2003two three", "\tlead tab word",
    ]
    docs = _docs(spark, texts)
    cols = ["doc_id", "chunk_idx", "n_chunk_words", "chunk"]
    for cw, st in ((32, 24), (2, 2)):
        a = (
            chunk_documents(docs, chunk_words=cw, stride=st)
            .orderBy("doc_id", "chunk_idx")
            .toPandas()
        )
        b = (
            chunk_documents_udtf(spark, docs, chunk_words=cw, stride=st)
            .orderBy("doc_id", "chunk_idx")
            .toPandas()
        )
        assert a[cols].equals(b[cols]), (cw, st)


def test_bm25_batch_consistent_with_single(spark):
    """Each query's batch-retrieval ranking equals the single-query
    bm25_scores ranking over the same corpus."""
    from fte.operators.text import bm25_scores, bm25_topk_batch

    texts = [
        "spark join window spark",
        "spark filter scan",
        "window filter window filter scan",
        "join join join join window",
        "table scan value table",
    ]
    docs = _docs(spark, texts)
    queries = {0: ("spark", "join"), 1: ("window", "filter")}
    batch = (
        bm25_topk_batch(docs, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    for qid, terms in queries.items():
        single = (
            bm25_scores(docs, terms)
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .toPandas()
        )
        got = batch[batch["query_id"] == qid]
        assert got["doc_id"].tolist() == single["doc_id"].tolist()[:5]
        for g, s in zip(got["bm25"], single["bm25"]):
            assert g == pytest.approx(s, rel=1e-12)


def test_bm25_batch_hot_term_skew(spark):
    """Skew stress: one query term appears in EVERY doc, so that
    query's candidate set is the whole corpus. The two-phase salted
    top-k must (a) stay exact vs a direct single-query ranking and
    (b) never push more than ~n_candidates/n_salts + k*n_salts rows
    through any one window partition (structural: phase-1 windows are
    (query, salt)-partitioned, phase 2 sees <= k*n_salts rows)."""
    from fte.operators.text import bm25_scores, bm25_topk_batch

    n = 400
    # every doc contains 'the'; distinct filler words vary doc length
    texts = [
        "the " + " ".join(f"w{i}_{j}" for j in range(1 + i % 7))
        for i in range(n)
    ]
    docs = _docs(spark, texts).repartition(8)
    out = (
        bm25_topk_batch(docs, {0: ("the",)}, k=5, n_salts=16)
        .orderBy("rank")
        .toPandas()
    )
    assert len(out) == 5
    single = (
        bm25_scores(docs, ("the",))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(5)
        .toPandas()
    )
    assert out["doc_id"].tolist() == single["doc_id"].tolist()
    for g, s in zip(out["bm25"], single["bm25"]):
        assert g == pytest.approx(s, rel=1e-12)
    # the plan contains both window phases: (query,salt) then query
    plan = (
        bm25_topk_batch(docs, {0: ("the",)}, k=5, n_salts=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_salt" in plan


def test_sft_loss_spans_substring_exact(spark):
    """Every span, sliced out of the rendered sft_text, is exactly the
    rendered loss-role turn — offsets exact for multi-turn convs,
    conversation-opening turns (span_start 0), and any turn content."""
    from fte.operators.pairs import render_conversations, sft_loss_spans

    rows = [
        ("c1", 0, "user", "hi there"),
        ("c1", 1, "assistant", "hello! how can i help"),
        ("c1", 2, "user", "what is spark"),
        ("c1", 3, "assistant", "a distributed engine"),
        ("c2", 0, "assistant", "opening statement"),  # span_start == 0
        ("c2", 1, "user", "ok"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    )
    docs = render_conversations(df).toPandas().set_index("conv_id")["sft_text"]
    spans = sft_loss_spans(df).toPandas()
    assert len(spans) == 3
    for _, r in spans.iterrows():
        text = docs[r["conv_id"]]
        piece = text[r["span_start"]:r["span_end"]]
        orig = [t for t in rows if t[0] == r["conv_id"] and t[1] == r["turn_idx"]][0]
        assert piece == f"{orig[2]}: {orig[3]}"
    assert spans.set_index(["conv_id", "turn_idx"]).loc[("c2", 0), "span_start"] == 0


def test_bm25_batch_duplicate_and_empty_queries(spark):
    """Regression: a duplicated term in a query tuple must not double
    that term's document frequency (idf corruption); termless queries
    drop out; an empty dict returns an empty frame with the right
    schema."""
    from fte.operators.text import bm25_topk_batch

    texts = [
        "spark join window spark",
        "spark filter scan",
        "join join join window",
    ]
    docs = _docs(spark, texts)
    dup = bm25_topk_batch(docs, {0: ("spark", "spark", "join")}, k=3).toPandas()
    ref = bm25_topk_batch(docs, {0: ("spark", "join")}, k=3).toPandas()
    assert dup["doc_id"].tolist() == ref["doc_id"].tolist()
    for g, s in zip(dup["bm25"], ref["bm25"]):
        assert g == pytest.approx(s, rel=1e-12)
    empty = bm25_topk_batch(docs, {}, k=3)
    assert empty.count() == 0
    assert "bm25" in empty.columns and "rank" in empty.columns
    only_termless = bm25_topk_batch(docs, {5: ()}, k=3)
    assert only_termless.count() == 0
