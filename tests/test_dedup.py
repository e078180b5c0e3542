"""Dedup operators: planted-duplicate recovery + exact-Jaccard ground
truth for the LSH paths."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fte.operators.dedup import (
    duplicate_components,
    exact_dedup,
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_table,
)

BASE_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "machine learning models require large amounts of clean training data to perform",
    "spark is a distributed execution engine for large scale data processing jobs",
    "feature engineering turns raw transcripts into model ready numeric matrices",
    "completely unrelated text about cooking pasta with tomato sauce and basil leaves",
]


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = []
    did = 0
    for t in BASE_TEXTS:
        rows.append((did, t)); did += 1
    # exact duplicates of doc 0 and 1 (formatting-only changes)
    rows.append((did, BASE_TEXTS[0])); did += 1
    rows.append((did, "  " + BASE_TEXTS[0].upper() + "  ")); did += 1  # normalized dup
    rows.append((did, BASE_TEXTS[1])); did += 1
    # near-duplicate of doc 2 (one word changed)
    rows.append((did, BASE_TEXTS[2].replace("engine", "system"))); did += 1
    # near-duplicate of doc 3 (word appended)
    rows.append((did, BASE_TEXTS[3] + " efficiently")); did += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark, docs_df):
    got = exact_dedup(docs_df).toPandas().sort_values("doc_id")
    # docs 5 (=0), 7 (=1) are exact dups; 6 is a case/space variant of 0
    assert set(got.doc_id) == {0, 1, 2, 3, 4, 8, 9}


def test_minhash_pairs_find_planted_near_dups(spark, docs_df):
    pairs = minhash_lsh_pairs(
        docs_df, num_hashes=32, bands=16, jaccard_threshold=0.5
    ).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 5) in found            # exact dup → jaccard 1.0
    assert (2, 8) in found            # one-word change
    assert (3, 9) in found            # appended word
    # est_jaccard should approximate exact jaccard
    j = pairs.set_index(["id_a", "id_b"])
    assert j.loc[(0, 5), "jaccard"] == 1.0
    assert abs(j.loc[(2, 8), "est_jaccard"] - j.loc[(2, 8), "jaccard"]) < 0.35


def test_minhash_est_jaccard_is_signature_agreement(spark, docs_df):
    """est_jaccard is the positional agreement of the two docs'
    ``minhash_signatures`` rows — the same estimate incremental_neardup
    verifies with."""
    from fte.operators.dedup import minhash_signatures

    pairs = minhash_lsh_pairs(docs_df, num_hashes=32, bands=16, verify=False).toPandas()
    sig = minhash_signatures(docs_df).toPandas().set_index("doc_id")["_sig"]
    assert len(pairs) >= 4
    for a, b, est in pairs[["id_a", "id_b", "est_jaccard"]].itertuples(index=False):
        assert est == np.mean(np.asarray(sig[a]) == np.asarray(sig[b]))


def test_minhash_bands_must_divide_num_hashes(spark, docs_df):
    """A remainder would drop signature entries from every band; it is
    rejected when the plan is built (not an assert, which -O strips)."""
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs_df, num_hashes=32, bands=5)


def test_minhash_dedup_drops_losers(spark, docs_df):
    kept = minhash_lsh_dedup(
        docs_df, num_hashes=32, bands=16, jaccard_threshold=0.5
    ).toPandas()
    assert 5 not in set(kept.doc_id)
    assert 8 not in set(kept.doc_id)
    assert 4 in set(kept.doc_id)  # unrelated text survives


def test_ngram_jaccard_matches_minhash_verify(spark, docs_df):
    exact = ngram_jaccard_pairs(docs_df, threshold=0.5).toPandas()
    mh = minhash_lsh_pairs(docs_df, num_hashes=32, bands=16, jaccard_threshold=0.5).toPandas()
    e = exact.set_index(["id_a", "id_b"])["jaccard"]
    m = mh.set_index(["id_a", "id_b"])["jaccard"]
    shared = e.index.intersection(m.index)
    assert len(shared) >= 3
    assert np.allclose(e.loc[shared], m.loc[shared])


def test_simhash_near_dups(spark, docs_df):
    pairs = simhash_pairs(docs_df, max_hamming=10).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 5) in found
    h = pairs.set_index(["id_a", "id_b"])["hamming"]
    assert h.loc[(0, 5)] == 0  # identical text → identical simhash


def test_simhash_deterministic(spark, docs_df):
    a = simhash_table(docs_df).toPandas().sort_values("doc_id")["simhash"].tolist()
    b = simhash_table(docs_df.repartition(5)).toPandas().sort_values("doc_id")["simhash"].tolist()
    assert a == b


def test_duplicate_components_transitive(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]}), "id_a long, id_b long"
    )
    comp = duplicate_components(pairs).toPandas().set_index("id")["comp"]
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_simhash_pigeonhole_total_recall(spark):
    """The pigeonhole guarantee: EVERY pair within max_hamming must be
    a candidate (the old fixed 4x16 block layout silently missed pairs
    at hamming 4-6 when asked for max_hamming=6). Plants signature
    pairs at every distance 0..max_hamming, across the worst bit
    positions (block boundaries), for several radii."""
    import numpy as np

    from fte.operators.dedup import simhash_candidate_pairs

    rng = np.random.default_rng(7)
    for max_h in (1, 3, 6):
        rows, expect = [], set()
        nid = 0
        for trial in range(12):
            base = int(rng.integers(0, 2**63, dtype=np.int64))
            for d in range(max_h + 1):
                # flip d distinct bits, biased toward straddling blocks
                bits = rng.choice(64, size=d, replace=False)
                other = base
                for b in bits:
                    other ^= 1 << int(b)
                    other = other - 2**64 if other >= 2**63 else other
                a_id, b_id = nid, nid + 1
                rows += [(a_id, base), (b_id, int(other))]
                if d <= max_h:
                    expect.add((a_id, b_id))
                nid += 2
        sig = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = simhash_candidate_pairs(sig, max_hamming=max_h).toPandas()
        found = set(map(tuple, got[["id_a", "id_b"]].to_numpy()))
        missing = expect - found
        assert not missing, f"max_h={max_h}: missed planted pairs {missing}"


def test_minhash_verify_aggregates_candidates_only(spark, docs_df):
    """The exact-Jaccard verify step must materialize shingle sets for
    CANDIDATE docs only (the module-header scale promise): the
    shingle-set aggregate's row count equals the distinct candidate id
    count, a strict subset of the corpus, and the pair output is
    unchanged vs the ground-truth exact-Jaccard restatement."""
    import pyspark.sql.functions as F

    from fte.operators.dedup import candidate_shingle_sets

    pairs = minhash_lsh_pairs(
        docs_df, num_hashes=32, bands=16, jaccard_threshold=0.5
    ).toPandas()
    cand_ids = spark.createDataFrame(
        pd.DataFrame({"doc_id": sorted(set(pairs.id_a) | set(pairs.id_b))}),
        "doc_id long",
    )
    sets = candidate_shingle_sets(docs_df, cand_ids)
    assert sets.count() == cand_ids.count()
    assert cand_ids.count() < docs_df.count(), "fixture must have non-candidates"
    # and the aggregate genuinely never saw non-candidate docs
    non_cand = sets.join(cand_ids, "doc_id", "left_anti")
    assert non_cand.count() == 0
    # the candidates-only subtree plans as a left-semi doc filter.
    # (r6: minhash_lsh_pairs localCheckpoints the shingle-set aggregate
    # — it is consumed on both pair sides — so the semi-join is no
    # longer visible in the OUTER plan; assert it on the subtree that
    # owns it, which is exactly the operator the pipeline routes
    # through.)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        candidate_shingle_sets(docs_df, cand_ids).explain("formatted")
    assert "LeftSemi" in buf.getvalue()


def test_minhash_max_bucket_guard(spark):
    """Giant-bucket cap: 40 identical docs form one mega band-bucket;
    with max_bucket=10 their quadratic pair mass is dropped while a
    small distinct near-dup cluster is still found."""
    import pandas as pd

    from fte.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "the same boilerplate footer text repeated on every page of the site") for i in range(40)]
    near = [
        (100, "a genuinely unique document about distributed joins and shuffles in spark engines"),
        (101, "a genuinely unique document about distributed joins and shuffles in spark engines today"),
    ]
    df = spark.createDataFrame(pd.DataFrame(boiler + near, columns=["doc_id", "text"]))
    capped = minhash_lsh_pairs(df, jaccard_threshold=0.5, max_bucket=10).toPandas()
    got = set(map(tuple, capped[["id_a", "id_b"]].to_numpy()))
    assert (100, 101) in got, "small-cluster pair must survive the cap"
    assert not any(a < 40 and b < 40 for a, b in got), "mega-bucket pairs must be dropped"
    # without the cap the boilerplate cluster produces all 780 pairs
    uncapped = minhash_lsh_pairs(df, jaccard_threshold=0.5).toPandas()
    assert len(uncapped) == 780 + 1


def test_simhash_max_bucket_guard(spark):
    """Same guard on the simhash block join, at the signature level."""
    from fte.operators.dedup import simhash_candidate_pairs

    rows = [(i, 0x0F0F0F0F0F0F0F0F) for i in range(30)] + [(100, 1), (101, 3)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = simhash_candidate_pairs(sig, max_hamming=3, max_bucket=10).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].to_numpy()))
    assert (100, 101) in pairs
    assert not any(a < 30 and b < 30 for a, b in pairs)


def test_simhash_max_hamming_out_of_range_raises(spark):
    """The radius sets max_hamming + 1 blocks of the 64-bit signature;
    outside 0..63 it is rejected with ValueError (an assert, which
    ``python -O`` strips, used to guard it)."""
    from fte.operators.dedup import simhash_candidate_pairs

    sig = spark.createDataFrame([(1, 5), (2, 7)], "doc_id long, simhash long")
    for bad in (-1, 64):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_candidate_pairs(sig, max_hamming=bad)


def test_decontaminate_planted_overlap(spark):
    """A train doc embedding >=13 consecutive benchmark words is
    contaminated; clean docs survive; a short (<13-word) bench doc
    matches only its exact normalized text."""
    import pandas as pd

    from fte.operators.dedup import contaminated_ids, decontaminate

    bench_sent = " ".join(f"b{i}" for i in range(15))  # 15 words
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "intro words then " + bench_sent + " trailing words",  # contaminated
            "totally clean text with its own distinct vocabulary here ok",
            " ".join(f"b{i}" for i in range(12)),  # 12-word PREFIX: no full 13-gram
            "Tiny  Quiz",  # matches short bench doc after normalization
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100, 101],
        "text": [bench_sent, "tiny quiz"],
    }))
    bad = set(
        r["doc_id"] for r in contaminated_ids(train, bench, n=13).collect()
    )
    assert bad == {0, 3}
    kept = decontaminate(train, bench, n=13)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]
    # string-gram mode agrees with the hashed mode
    bad_str = set(
        r["doc_id"]
        for r in contaminated_ids(train, bench, n=13, hashed=False).collect()
    )
    assert bad_str == bad


def test_incremental_dedup_against_corpus_index(spark):
    """New-batch dedup: docs already in the corpus (by normalized
    content) are dropped via the fingerprint index, intra-batch dups
    keep min id, and a second application with the updated index is
    idempotent."""
    import pandas as pd

    from fte.operators.dedup import fingerprint_index, incremental_dedup

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["alpha beta gamma", "delta epsilon zeta"],
    }))
    batch = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12, 13],
        "text": [
            "  ALPHA   beta gamma ",   # dup of corpus doc 1 (normalized)
            "eta theta iota",          # new
            "eta theta iota",          # intra-batch dup of 11
            "kappa lambda mu",         # new
        ],
    }))
    idx = fingerprint_index(corpus)
    kept = incremental_dedup(batch, idx)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]
    # idempotence: union the kept batch into the index, re-apply
    idx2 = idx.unionByName(fingerprint_index(kept)).distinct()
    again = incremental_dedup(batch, idx2)
    assert again.count() == 0


def test_segment_dedup_keep_first(spark):
    """Corpus-wide keep-first over 4-word segments: doc 1 repeats doc
    0's first block (dropped), doc 2 is entirely doc 0's blocks
    (disappears), unique content is untouched and reassembled in
    order."""
    from fte.operators.dedup import segment_dedup

    texts = [
        "a b c d e f g h",            # doc 0: segs [a b c d][e f g h]
        "a b c d x y z w",            # doc 1: first seg repeats doc 0
        "e f g h a b c d",            # doc 2: both segs repeat doc 0
        "p q r s t",                  # doc 3: unique, 2 segs (4+1)
    ]
    pdf = pd.DataFrame({"doc_id": range(4), "text": texts})
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    out = (
        segment_dedup(df, seg_words=4, hashed=True)
        .orderBy("doc_id")
        .toPandas()
    )
    assert out["doc_id"].tolist() == [0, 1, 3]  # doc 2 fully deduped
    assert out.set_index("doc_id")["text_dedup"].to_dict() == {
        0: "a b c d e f g h",
        1: "x y z w",
        3: "p q r s t",
    }
    assert out.set_index("doc_id")["n_segs"].to_dict() == {0: 2, 1: 2, 3: 2}
    assert out.set_index("doc_id")["n_kept"].to_dict() == {0: 2, 1: 1, 3: 2}


def test_segment_dedup_hashed_matches_raw(spark):
    """The 8-byte-key production path and the raw-string oracle path
    must select identical segments."""
    from fte.operators.dedup import segment_dedup

    rng = np.random.default_rng(3)
    vocab = [f"t{i}" for i in range(30)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(5, 40))) for _ in range(40)]
    # plant block repeats
    texts.append(texts[0])
    texts.append(texts[1] + " " + texts[2])
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    a = segment_dedup(df, seg_words=8, hashed=True).orderBy("doc_id").toPandas()
    b = segment_dedup(df, seg_words=8, hashed=False).orderBy("doc_id").toPandas()
    assert a.equals(b)


def test_canonical_per_cluster_quality_rule(spark):
    """Highest-quality member wins the cluster (ties -> min id);
    singletons are their own canonical."""
    from fte.operators.dedup import canonical_per_cluster

    quality = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 7, 9], "q": [5, 9, 9, 4, 2]}),
        "doc_id long, q long",
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]}),  # cluster {1,2,3}
        "id_a long, id_b long",
    )
    out = (
        canonical_per_cluster(quality, pairs, quality_col="q")
        .orderBy("doc_id")
        .toPandas()
    )
    got = out.set_index("doc_id")
    # cluster {1,2,3}: q 5,9,9 -> tie between 2 and 3 -> min id 2 wins
    assert got.loc[1, "canonical_id"] == 2 and not got.loc[1, "is_canonical"]
    assert got.loc[2, "canonical_id"] == 2 and got.loc[2, "is_canonical"]
    assert got.loc[3, "canonical_id"] == 2 and not got.loc[3, "is_canonical"]
    assert got.loc[1, "component_id"] == 1  # min-id component label
    # singletons 7 and 9 are their own canonical
    for s in (7, 9):
        assert got.loc[s, "component_id"] == s
        assert got.loc[s, "canonical_id"] == s and got.loc[s, "is_canonical"]


def test_segment_dedup_each_distinct_segment_kept_exactly_once(spark):
    """Global invariant: sum(n_kept) over all docs == the number of
    DISTINCT segments in the corpus — every distinct block survives in
    exactly one place (its first occurrence), none vanish, none stay
    duplicated."""
    from fte.operators.dedup import segment_dedup, segment_rows

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(12)]  # small vocab -> many repeats
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(3, 30)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string",
    )
    out = segment_dedup(df, seg_words=4, hashed=True).toPandas()
    n_distinct = (
        segment_rows(df, seg_words=4, hashed=True)
        .select("segment").distinct().count()
    )
    assert int(out["n_kept"].sum()) == n_distinct


def test_segment_dedup_128bit_key_matches_64(spark):
    """key_bits=128 (the production anti-collision key) must produce
    byte-identical output to the 64-bit default on a collision-free
    corpus, and its segment key is a 2x64-bit struct."""
    from fte.operators.dedup import segment_dedup, segment_rows

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(10)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(3, 25))) for _ in range(50)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string",
    )
    a = segment_dedup(df, seg_words=4, key_bits=64).toPandas().sort_values("doc_id")
    b = segment_dedup(df, seg_words=4, key_bits=128).toPandas().sort_values("doc_id")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
    seg_type = dict(segment_rows(df, key_bits=128).dtypes)["segment"]
    assert seg_type == "struct<h1:bigint,h2:bigint>"


@pytest.mark.parametrize("seg", [16, 5])
def test_segment_rows_are_chunks(spark, seg):
    """Unhashed segments are chunk_documents' chunks with chunk =
    stride = seg_words, columns renamed: one segment for a short doc,
    a shorter trailing segment, none past the end."""
    from fte.operators.dedup import segment_rows
    from fte.operators.text import chunk_documents

    lengths = (1, 4, 5, 16, 17, 33, 48)
    df = spark.createDataFrame(
        [(i, " ".join(f"w{j % 7}" for j in range(n))) for i, n in enumerate(lengths)],
        "doc_id long, text string",
    )
    segs = segment_rows(df, seg_words=seg, hashed=False)
    chunks = chunk_documents(df, chunk_words=seg, stride=seg).toDF(*segs.columns)
    assert segs.dtypes == chunks.dtypes
    assert segs.exceptAll(chunks).count() == 0
    assert chunks.exceptAll(segs).count() == 0
    assert segs.count() == sum(-(-n // seg) for n in lengths)


def test_segment_rows_rejects_unknown_key_bits(spark, docs_df):
    """key_bits other than 64 or 128 raises ValueError; under
    ``python -O`` the old assert let key_bits=32 return a 64-bit key."""
    from fte.operators.dedup import segment_rows

    with pytest.raises(ValueError, match="key_bits"):
        segment_rows(docs_df, key_bits=32)


def test_segment_dedup_property_keep_first_occurrence(spark):
    """Property test vs a direct pandas restatement of the rule: for
    random tiny corpora, every doc's surviving text equals the
    concatenation of its segments whose (doc_id, seg_idx) is the
    corpus-wide FIRST occurrence of that segment's content."""
    from fte.operators.dedup import segment_dedup

    for seed in (0, 1, 2, 3):
        rng = np.random.default_rng(seed)
        vocab = [f"w{i}" for i in range(rng.integers(4, 14))]
        seg_w = int(rng.integers(2, 6))
        texts = [
            " ".join(rng.choice(vocab, size=rng.integers(1, 20)))
            for _ in range(int(rng.integers(10, 40)))
        ]
        # pandas restatement: segment in doc order, keep first occurrence
        seen: set[str] = set()
        expect: dict[int, str] = {}
        for did, t in enumerate(texts):
            ws = t.split()
            kept_segs = []
            for s in range(0, max(len(ws), 1), seg_w):
                seg = " ".join(ws[s:s + seg_w])
                if seg not in seen:
                    seen.add(seg)
                    kept_segs.append(seg)
            if kept_segs:
                expect[did] = " ".join(kept_segs)
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
            "doc_id long, text string",
        )
        got = (
            segment_dedup(df, seg_words=seg_w, hashed=True)
            .toPandas().set_index("doc_id")["text_dedup"].to_dict()
        )
        assert got == expect, f"seed={seed} seg_w={seg_w}"


def test_duplicate_components_long_chain_pointer_doubling(spark):
    """A 100-hop chain (diameter 100 — the templated-web-text shape)
    must collapse to ONE component well inside the default round
    budget: pointer doubling makes convergence O(log diameter), where
    plain 1-hop min propagation needs ~100 rounds and used to exhaust
    max_iter=20 SILENTLY, leaving several 'canonicals' per true
    cluster."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(100)), "id_b": list(range(1, 101))}),
        "id_a long, id_b long",
    )
    comp = duplicate_components(pairs, max_iter=12).toPandas()
    assert set(comp["comp"]) == {0} and len(comp) == 101

    from fte.operators.dedup import canonical_per_cluster

    quality = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(101)), "q": [1] * 50 + [9] + [1] * 50}),
        "doc_id long, q long",
    )
    out = canonical_per_cluster(quality, pairs, quality_col="q").toPandas()
    assert int(out["is_canonical"].sum()) == 1  # exactly one survivor
    assert set(out["canonical_id"]) == {50}  # the planted q=9 doc


def test_duplicate_components_exhaustion_is_loud(spark):
    """max_iter too small for the diameter -> RuntimeError by default,
    RuntimeWarning with on_exhaust='warn' (never a silent partial
    merge)."""
    import warnings as _w

    import pytest as _pt

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(40)), "id_b": list(range(1, 41))}),
        "id_a long, id_b long",
    )
    with _pt.raises(RuntimeError, match="did not converge"):
        duplicate_components(pairs, max_iter=1)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        out = duplicate_components(pairs, max_iter=1, on_exhaust="warn").toPandas()
    assert any(issubclass(r.category, RuntimeWarning) for r in rec)
    assert len(out) == 41  # labels still returned, just flagged partial


def test_incremental_neardup_daily_ingest(spark):
    """The daily-ingest near-dup shape: a new batch is deduped against
    the persisted signature index (exact copy AND one-word near-dup of
    corpus docs dropped), within itself (min id of a new near-dup pair
    survives), and appending the survivors' signatures makes replaying
    the batch a no-op (idempotence)."""
    from fte.operators.dedup import incremental_neardup, minhash_signatures

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(len(BASE_TEXTS)), "text": BASE_TEXTS}
        ),
        "doc_id long, text string",
    )
    index = minhash_signatures(corpus).localCheckpoint(eager=True)

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101, 102, 103, 104],
                "text": [
                    BASE_TEXTS[0],                              # exact copy of corpus 0
                    BASE_TEXTS[2].replace("engine", "system"),  # near-dup of corpus 2
                    "fresh batch text about glacier melt rates and sea level measurements today",  # near-dup PAIR a
                    "fresh batch text about glacier melt rates and sea level measurements yesterday",  # near-dup PAIR b
                    "a wholly new document about orbital mechanics and launch windows",
                ],
            }
        ),
        "doc_id long, text string",
    )
    kept, new_rows = incremental_neardup(batch, index, bands=16, threshold=0.4)
    kept_ids = set(kept.toPandas()["doc_id"])
    assert 100 not in kept_ids          # exact cross-dup: est jaccard 1.0
    assert 101 not in kept_ids          # near cross-dup
    assert 102 in kept_ids and 103 not in kept_ids  # within-batch: min id wins
    assert 104 in kept_ids              # unique survives
    # appended index rows are exactly the survivors' signatures
    appended = new_rows.toPandas()
    assert set(appended["doc_id"]) == kept_ids
    assert all(len(s) == 32 for s in appended["_sig"])

    # idempotence: replay the same batch against the updated index
    index2 = index.union(new_rows).localCheckpoint(eager=True)
    kept2, new2 = incremental_neardup(batch, index2, bands=16, threshold=0.4)
    assert kept2.count() == 0 and new2.count() == 0

    # a fresh second batch is unaffected by the replayed noise
    batch2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [200], "text": ["another genuinely novel text on tidal forces and moons"]}),
        "doc_id long, text string",
    )
    k3, _ = incremental_neardup(batch2, index2, bands=16, threshold=0.4)
    assert set(k3.toPandas()["doc_id"]) == {200}


def test_incremental_neardup_max_bucket_guard(spark):
    """Giant-bucket cap on the incremental path: a 40-copy boilerplate
    bucket is over the cap of 10, so none of its within-batch pairs is
    generated and every copy is kept, while the small near-dup pair
    still loses its larger id. Without the cap the boilerplate
    collapses to its min id."""
    from fte.operators.dedup import incremental_neardup, minhash_signatures

    boiler = [(i, "the same boilerplate footer text repeated on every page of the site") for i in range(40)]
    near = [
        (100, "a genuinely unique document about distributed joins and shuffles in spark engines"),
        (101, "a genuinely unique document about distributed joins and shuffles in spark engines today"),
    ]
    batch = spark.createDataFrame(
        pd.DataFrame(boiler + near, columns=["doc_id", "text"]), "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1000], "text": [BASE_TEXTS[4]]}), "doc_id long, text string"
    )
    index = minhash_signatures(corpus).localCheckpoint(eager=True)

    kept, _ = incremental_neardup(batch, index, max_bucket=10)
    assert set(kept.toPandas()["doc_id"]) == set(range(40)) | {100}
    uncapped, _ = incremental_neardup(batch, index)
    assert set(uncapped.toPandas()["doc_id"]) == {0, 100}
