"""Deduplication operators for training-data pipelines.

Four tiers, each a different cost/recall point, all shuffle-disciplined
for the 100 TB case:

- exact_dedup: hash-groupBy on a 64-bit fingerprint (one shuffle on a
  fixed-width key — never shuffle raw text).
- minhash_lsh_pairs / minhash_lsh_dedup: shingle → minhash signature →
  LSH bands → bucket self-join. Candidate generation touches only
  (id, band_hash) pairs; the verify step re-reads text for candidates
  only (a tiny fraction at realistic dup rates).
- simhash_pairs: 64-bit simhash + pigeonhole block join for hamming
  distance ≤ k.
- embedding_dup_pairs: cosine near-dup via random-hyperplane LSH
  buckets (see fte.operators.similarity for the signature machinery).

Each near-duplicate decision has one definition, shared by the batch
and incremental paths: text normalization (``fte.functions.norm_text``),
the MinHash signature (``minhash_signatures``, an explode + MIN hash
aggregate), LSH banding (``_band_rows``), the giant-bucket cap
(``_cap_buckets``), the band self-join (``_band_join``), the
signature Jaccard estimate (``_sig_est_jaccard``) and the exact
shingle-set Jaccard (``_exact_jaccard``).

Everything is JVM expressions (xxhash64, whole-stage codegen); no
Python UDFs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window, functions as F

from fte.functions import words
from fte.operators.text import _word_grams, chunk_documents, with_fingerprint


# ------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id doc per normalized-content fingerprint."""
    fp = with_fingerprint(df, text_col)
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["fingerprint", id_col], "left_semi").drop("fingerprint")


# ----------------------------------------------------------- shingles

def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    distinct: bool = True, hashed: bool = True,
) -> DataFrame:
    """Exploded (id, shingle_hash) rows — the engine's canonical
    shingle form: the word k-grams of ``fte.operators.text._word_grams``
    (scan-side codegen, no shuffle; the downstream consumer — minhash
    aggregate, LSH distinct, decontamination semi-join — introduces the
    only exchange). Docs shorter than k words fall back to one
    whole-text gram.

    ``hashed=False`` emits the raw gram STRING instead of its xxhash64
    (for SQL-oracle-checked consumers — xxhash64 is Spark-only; the
    scale path stays hashed: 8-byte keys instead of ~100-byte grams).
    """
    base, gram = _word_grams(df, id_col, text_col, k)
    grams = base.select(
        id_col,
        (F.xxhash64(gram) if hashed else gram).alias("shingle"),
    )
    return grams.distinct() if distinct else grams


def _hash_consts(num_hashes: int) -> list[int]:
    # distinct odd constants emulate the family h_i(x) = xxhash64(x ^ C_i)
    # (xxhash64's seed argument must be literal, so we perturb the input)
    return [(0x9E3779B97F4A7C15 * (i + 1)) % (1 << 63) for i in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, _sig array<long>) MinHash signatures via explode →
    hash-aggregate.

    Deliberately NOT a higher-order-function fold: HOF lambdas are
    interpreted per element (no codegen), which measured ~40x slower
    than this explode + 32-way MIN hash-aggregate, and the aggregate
    form also gives bounded memory + map-side partials at 10^12 rows.
    One shuffle on id_col. Shingles are not deduplicated first: a
    repeated shingle cannot change a MIN.

    Over the KEPT corpus this is also the persisted NEAR-dup index
    that ``incremental_neardup`` reads (the companion of
    ``fingerprint_index``'s exact index): ~256 bytes/doc (32 longs),
    written once and APPENDED to per ingest batch, so corpus text is
    never re-read or re-signed. Band rows are not stored: banding is a
    pure projection of the signature (``_band_rows``).
    """
    ex = shingle_rows(df, id_col, text_col, shingle_k, distinct=False)
    aggs = [
        F.min(F.xxhash64(F.col("shingle").bitwiseXOR(F.lit(c)))).alias(f"_h{i}")
        for i, c in enumerate(_hash_consts(num_hashes))
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("_sig")
    )


def candidate_shingle_sets(
    df: DataFrame,
    cand_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, _sh: array<long>) shingle sets for the docs in ``cand_ids``
    only.

    The semi-join runs on the RAW docs, before shingling: non-candidate
    text is never exploded, so the collect_list aggregate (the one
    place shingle arrays ever materialize) sees exactly the candidate
    docs — at realistic dup rates a small fraction of the corpus, vs
    the corpus-sized payload a verify-inside-the-signature-aggregate
    design would shuffle and checkpoint. Exposed as a public helper so
    the candidates-only property is directly testable.
    """
    cand_docs = df.join(cand_ids.select(id_col), id_col, "left_semi")
    rows = shingle_rows(cand_docs, id_col, text_col, shingle_k, distinct=True)
    return rows.groupBy(id_col).agg(F.collect_list("shingle").alias("_sh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
    verify: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) with estimated and
    (optionally) exact Jaccard.

    LSH: the signature is cut into ``bands`` bands of r=num_hashes/bands
    rows; docs agreeing on any full band land in the same bucket.
    Collision prob ≈ 1-(1-s^r)^b — with 32/8 → r=4, s=0.7 gives ~89%
    recall. The self-join is on (band_idx, band_hash): fixed-width
    keys, salt-free (bucket sizes are bounded by near-dup cluster
    sizes, and AQE skew-split covers pathological buckets).

    ``max_bucket``: at web scale a boilerplate-heavy corpus produces a
    few GIANT band buckets (10^6 docs sharing a band → 10^12 candidate
    rows from one bucket). Setting a cap drops any bucket larger than
    ``max_bucket`` BEFORE the self-join — the standard web-dedup
    guard: giant buckets carry near-zero information per pair, and
    their members almost always co-occur in other, smaller buckets.
    NOT silent: members of an all-duplicate cluster larger than the
    cap can lose pairs — size the cap above the largest real dup
    cluster, or follow with exact_dedup (which has no such limit) for
    the exact-duplicate mass.
    """
    # The signature-ONLY aggregate is the shared subtree: it is consumed
    # 3x downstream (banding + both sides of the candidate join), and
    # checkpointing it lets Spark serve all consumers from one shuffle.
    # Shingle SETS deliberately stay out of this aggregate — collecting
    # them here would make the groupBy shuffle and the checkpoint carry
    # ~corpus-sized arrays at 100 TB; instead the verify step below
    # re-derives shingles for CANDIDATE docs only (a tiny fraction at
    # realistic dup rates), which is the promise in the module header.
    per_doc = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)

    # candidate generation shuffles ONLY (id, band_hash) — no payload
    banded = _cap_buckets(
        _band_rows(per_doc, id_col, num_hashes, bands), _BAND_KEYS, max_bucket
    )
    cand = _band_join(banded, id_col)

    # attach signatures (and shingles, if verifying) to candidates only
    est = _sig_est_jaccard(num_hashes).alias("est_jaccard")
    sa = per_doc.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a"))
    sb = per_doc.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b"))
    if not verify:
        return cand.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", est)

    # Exact-Jaccard verify: shingle sets are aggregated for candidate
    # docs ONLY. The candidate id set left-semi-filters the raw docs
    # BEFORE shingling, so non-candidate text is never exploded, never
    # shuffled, and never aggregated; cand is checkpointed first so the
    # band self-join isn't re-run for the semi-join side.
    cand = cand.localCheckpoint(eager=False)
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # r6: the shingle-set aggregate is consumed TWICE (id_a and id_b
    # sides); checkpoint it once — same intra-plan-reuse pattern as
    # per_doc/cand above — so one action shingles candidates once,
    # not twice (static plans showed both subtrees fully expanded).
    cand_sets = candidate_shingle_sets(
        df, cand_ids, id_col, text_col, shingle_k
    ).localCheckpoint(eager=False)
    pa = cand_sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    pb = cand_sets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    pairs = cand.join(sa, "id_a").join(sb, "id_b").join(pa, "id_a").join(pb, "id_b")
    return (
        pairs.select("id_a", "id_b", est, _exact_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def minhash_lsh_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", **kw
) -> DataFrame:
    """Drop near-duplicates: each doc maps to the min id among its
    verified neighbors (single-hop representative — matches the common
    MinHashLSH-dedup practice of per-pair elimination; full transitive
    closure would need iterative connected components, provided by
    ``duplicate_components`` below when exactness matters)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def duplicate_components(
    pairs: DataFrame, max_iter: int = 20, on_exhaust: str = "raise"
) -> DataFrame:
    """Connected components over dup pairs. Returns (id, component_id).

    Each round combines min-label propagation (comp ← min over 1-hop
    neighbors' comp) with pointer doubling (comp ← comp's comp, i.e.
    path halving on the label forest), so the distance every node's
    label has travelled toward the component minimum roughly doubles
    per round and convergence is O(log diameter) — templated web text
    produces CHAIN-shaped near-dup clusters whose diameter easily
    exceeds any fixed round budget under plain 1-hop propagation.

    If ``max_iter`` rounds still leave labels changing, the result is
    partially merged (one true cluster would surface several
    "canonicals" downstream), so exhaustion is never silent:
    ``on_exhaust`` is "raise" (default) or "warn".
    """
    if on_exhaust not in ("raise", "warn"):
        raise ValueError(f"on_exhaust must be 'raise' or 'warn', got {on_exhaust!r}")
    edges = pairs.select("id_a", "id_b")
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .union(edges.select("id_b"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    sym = edges.union(edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.id_b == labels.id)
            .groupBy("id_a")
            .agg(F.min("comp").alias("n_comp"))
        )
        stepped = (
            labels.join(neigh, labels.id == neigh.id_a, "left")
            .select(
                "id", F.least(F.col("comp"), F.coalesce("n_comp", "comp")).alias("comp")
            )
        )
        # pointer doubling: follow my label's label (path halving)
        parent = stepped.select(
            F.col("id").alias("_pid"), F.col("comp").alias("_pcomp")
        )
        new = (
            stepped.join(parent, stepped.comp == parent._pid, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("_pcomp", "comp")).alias("comp"),
            )
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new.localCheckpoint(eager=True)  # truncate lineage per round
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"duplicate_components did not converge in max_iter={max_iter} "
            "rounds; labels are partially merged (a single true cluster may "
            "carry several component ids). Raise max_iter."
        )
        if on_exhaust == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def canonical_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    max_iter: int = 20,
) -> DataFrame:
    """Quality-aware canonical selection: one surviving document per
    duplicate cluster — the highest-``quality_col`` member (ties → min
    id) — instead of exact_dedup's min-id rule. This is the production
    near-dup keep rule (keep the longest / best-scored copy, drop the
    rest).

    Clusters come from ``duplicate_components`` over ``pairs``; docs
    in no pair are their own singleton cluster. The winner aggregate
    is max(struct(quality, -id)) per component — a hash aggregate with
    map-side combine, no window over cluster members.

    Output: (id_col, component_id, canonical_id, is_canonical).
    """
    comps = duplicate_components(pairs, max_iter)
    labeled = (
        df.select(F.col(id_col), F.col(quality_col))
        .join(comps, df[id_col] == comps["id"], "left")
        .select(
            id_col,
            quality_col,
            F.coalesce("comp", F.col(id_col)).cast("long").alias("component_id"),
        )
    )
    winners = (
        labeled.groupBy("component_id")
        .agg(
            F.max(
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("nid"),
                )
            ).alias("_w")
        )
        .select("component_id", (-F.col("_w.nid")).cast("long").alias("canonical_id"))
    )
    return labeled.join(winners, "component_id").select(
        F.col(id_col),
        "component_id",
        "canonical_id",
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


# ------------------------------------------------------------ simhash

def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """(id, 64-bit SimHash): bit j is the sign of the per-token vote
    sum (+1 if bit j of xxhash64(token) set, else -1).

    Explode → 64 conditional-SUM hash aggregate (whole-stage codegen,
    map-side partials) rather than per-element HOF folds — same reason
    as minhash_signatures. One shuffle on id_col.
    """
    ex = df.select(F.col(id_col), F.explode(words(text_col)).alias("_w")).select(
        id_col, F.xxhash64("_w").alias("_h")
    )

    def bit(j: int):
        return F.lit(1 << j) if j < 63 else F.lit(-(1 << 63))

    votes = [
        F.sum(F.when(F.col("_h").bitwiseAND(bit(j)) != 0, 1).otherwise(-1)).alias(f"_v{j}")
        for j in range(64)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for j in range(64):
        sim = sim + F.when(F.col(f"_v{j}") > 0, bit(j)).otherwise(F.lit(0).cast("long"))
    return agg.select(id_col, sim.alias(out_col))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", sig_col: str = "simhash",
    max_hamming: int = 3, max_bucket: int | None = None,
) -> DataFrame:
    """Pairs with hamming(sig) <= max_hamming from a (id, 64-bit sig)
    table via pigeonhole block join.

    The 64 bits are split into ``max_hamming + 1`` nearly-equal blocks:
    a pair within distance d <= max_hamming differs in at most
    max_hamming blocks, so it AGREES on at least one — block-equality
    join therefore generates EVERY qualifying pair (guaranteed total
    recall; the old fixed 4x16-bit layout only guaranteed d <= 3).
    Tradeoff: larger max_hamming → narrower blocks → bigger buckets
    (block width 64/(h+1) bits → ~n/2^width docs per bucket); beyond
    h≈6 use multi-block combinations instead. ``max_bucket`` drops
    oversize block buckets before the self-join (same giant-bucket
    guard and caveat as minhash_lsh_pairs — capping trades guaranteed
    recall for bounded join size).
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in 0..63, got {max_hamming}")
    n_blocks = max_hamming + 1
    base, rem = divmod(64, n_blocks)
    specs = []
    pos = 0
    for b in range(n_blocks):
        w = base + (1 if b < rem else 0)
        if w == 64:
            val = F.col(sig_col)
        else:
            val = F.shiftrightunsigned(sig_col, pos).bitwiseAND(F.lit((1 << w) - 1))
        specs.append(F.struct(F.lit(b).alias("block_idx"), val.alias("block_val")))
        pos += w
    blocks = sig.select(
        id_col, sig_col, F.explode(F.array(*specs)).alias("_b")
    ).select(id_col, sig_col, "_b.block_idx", "_b.block_val")
    blocks = _cap_buckets(blocks, ("block_idx", "block_val"), max_bucket)
    left = blocks.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("sh_a"), "block_idx", "block_val")
    right = blocks.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("sh_b"), "block_idx", "block_val")
    return (
        left.join(right, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming: simhash_table +
    pigeonhole candidate join sized to the radius (max_hamming + 1
    blocks — see simhash_candidate_pairs for the recall guarantee)."""
    s = simhash_table(df, id_col, text_col)
    return simhash_candidate_pairs(s, id_col, "simhash", max_hamming)


# ----------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_cols: tuple[str, ...] = (),
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact k-gram Jaccard for all pairs (within optional blocking
    groups). Quadratic within a group — use only with blocking or on
    small corpora; the scale path is minhash_lsh_pairs."""
    sets = (
        shingle_rows(df, id_col, text_col, k)
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("_sh"))
    )
    sh = df.select(id_col, *group_cols).join(sets, id_col)
    a = sh.select(
        *[F.col(c) for c in group_cols],
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"),
    )
    b = sh.select(
        *[F.col(c) for c in group_cols],
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"),
    )
    on = list(group_cols)
    joined = a.join(b, on) if on else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", _exact_jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------- benchmark decontamination

def contaminated_ids(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hashed: bool = True,
) -> DataFrame:
    """Training docs sharing ANY word n-gram with a benchmark doc —
    the GPT-3-style eval-decontamination overlap rule (13-gram overlap;
    Brown et al. 2020 appendix C, public). Docs shorter than n words
    match only on their exact normalized text (shingle_rows fallback).

    Scale shape: benchmark suites are tiny next to the corpus, so the
    distinct bench gram set is BROADCAST and the corpus side is a
    broadcast left-semi join — the 100 TB train grams never shuffle on
    the gram key. The train-side gram stream itself has NO shuffle at
    all (shingle_rows is the zero-shuffle sequence/slice form); the
    only exchanges in the whole plan are the bench-side distinct and
    the final distinct on id_col. ``hashed=False`` joins on raw gram
    strings (SQL-oracle parity); production uses 64-bit xxhash64
    grams.
    """
    tg = shingle_rows(train, id_col, text_col, k=n, hashed=hashed)
    bg = shingle_rows(bench, id_col, text_col, k=n, hashed=hashed).select(
        "shingle"
    ).distinct()
    return tg.join(F.broadcast(bg), "shingle", "left_semi").select(id_col).distinct()


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    **kw,
) -> DataFrame:
    """Drop contaminated training docs (see contaminated_ids)."""
    bad = contaminated_ids(train, bench, id_col, text_col, n, **kw)
    return train.join(bad, id_col, "left_anti")


# ----------------------------------------------- segment-level dedup

def segment_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    seg_words: int = 16, hashed: bool = True, key_bits: int = 64,
) -> DataFrame:
    """Non-overlapping ``seg_words``-word segments per doc — the
    unit for within-corpus segment dedup (the C4/CCNet line- and
    paragraph-level rule, re-expressed for text without line
    structure): the chunks of ``chunk_documents`` with chunk = stride
    = ``seg_words``, keyed. Zero shuffles; segmenting 100 TB is one
    pass over the scan.

    Output: (id_col, seg_idx, n_seg_words, segment) where ``segment``
    is the xxhash64 of the normalized segment text (``hashed=True``,
    8-byte shuffle keys for the ownership aggregate) or the raw
    normalized string (SQL-oracle parity). ``key_bits=128`` widens the
    hashed key to struct(xxhash64(seg), xxhash64(reverse(seg))) — two
    independent 64-bit draws — for production-scale runs: with ~10^10+
    distinct segments (the 100 TB regime) 64-bit birthday collisions
    become probable, and a collision here silently DELETES a unique
    segment corpus-wide; at 128 bits the collision odds are negligible
    (~10^-18 at 10^10 keys). 64 stays the default for the small/bench
    path (half the shuffle-key bytes).
    """
    seg_text = F.col("chunk")
    if not hashed:
        seg_key = seg_text
    elif key_bits == 128:
        seg_key = F.struct(
            F.xxhash64(seg_text).alias("h1"),
            F.xxhash64(F.reverse(seg_text)).alias("h2"),
        )
    elif key_bits == 64:
        seg_key = F.xxhash64(seg_text)
    else:
        raise ValueError(f"key_bits must be 64 or 128, got {key_bits}")
    return chunk_documents(df, id_col, text_col, seg_words, seg_words).select(
        id_col,
        F.col("chunk_idx").alias("seg_idx"),
        F.col("n_chunk_words").alias("n_seg_words"),
        seg_key.alias("segment"),
    )


def segment_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    seg_words: int = 16, hashed: bool = True, key_bits: int = 64,
) -> DataFrame:
    """Corpus-wide keep-first segment dedup: every repeated
    ``seg_words``-word segment keeps only its first occurrence (min
    (doc_id, seg_idx) across the corpus — the C4 "discard repeated
    paragraphs/lines" rule); docs are reassembled from their surviving
    segments in order.

    Scale shape (three bounded exchanges, text shuffled at most once):
    1. ownership — segment rows WITHOUT text (id, idx, 8-byte hash)
       hash-aggregate min(struct(doc_id, seg_idx)) per segment key,
       map-side partial combine;
    2. the winning (doc_id, seg_idx) set left-semi joins the
       re-derived segment stream (with text) on (id, idx);
    3. per-doc reassembly: array_sort(collect_list(struct(idx, seg)))
       — in-aggregate ordering, no window.

    Output: (id_col, n_segs, n_kept, text_dedup) — one row per doc
    that kept >= 1 segment (a doc that is entirely repeats of earlier
    content disappears, matching the dedup intent).

    ``key_bits``: with ``hashed=True`` (the production default) the
    ownership key is an xxhash64 of the segment, and a 64-bit
    collision silently deletes a unique segment corpus-wide — at 100
    TB (~10^10+ distinct segments) birthday collisions are probable.
    Pass ``key_bits=128`` for production-scale runs (see
    segment_rows); output is identical absent collisions.
    """
    segs = segment_rows(df, id_col, text_col, seg_words, hashed=hashed,
                        key_bits=key_bits)
    keyed = segs.select(id_col, "seg_idx", "segment")
    owners = keyed.groupBy("segment").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("seg_idx").alias("x"))).alias("_o")
    ).select(
        F.col("segment"),
        F.col("_o.i").alias(id_col),
        F.col("_o.x").alias("seg_idx"),
    )
    seg_text = segment_rows(df, id_col, text_col, seg_words, hashed=False)
    # per-doc segment count straight off the scan (no explode/shuffle):
    # ceil(n_words / seg_words), min 1 — matches segment_rows' sequence
    n_words = F.size(words(text_col))
    totals = df.select(
        F.col(id_col),
        F.greatest(
            F.ceil(n_words.cast("double") / F.lit(seg_words)), F.lit(1)
        ).cast("long").alias("n_segs"),
    )
    kept = seg_text.join(
        owners.select(id_col, "seg_idx"), [id_col, "seg_idx"], "left_semi"
    )
    out = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct(F.col("seg_idx").alias("x"), F.col("segment").alias("s")))
            ).getField("s"),
            " ",
        ).alias("text_dedup"),
    )
    return out.join(totals, id_col).select(
        id_col, "n_segs", "n_kept", "text_dedup"
    )


# ----------------------------------------------- incremental dedup

def fingerprint_index(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct fingerprint set of an existing corpus — the persisted
    dedup index. At 100 TB this is computed once, stored as a compact
    parquet/bucketed table of 64-bit ints (~10^-4 of corpus bytes),
    and only APPENDED to as batches land; the corpus text is never
    re-read for dedup again."""
    return with_fingerprint(corpus, text_col).select("fingerprint").distinct()


# an LSH bucket: (band number, hash of that band's signature slice)
_BAND_KEYS = ("band_idx", "band_hash")


def _band_rows(
    sig_df: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band rows projected from ``_sig``
    signatures — shuffle-free. Each band hashes r = num_hashes/bands
    signature entries, so ``bands`` must divide ``num_hashes`` (a
    remainder would be silently left out of every band)."""
    r, rem = divmod(num_hashes, bands)
    if rem:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.concat_ws(",", *[F.element_at("_sig", b * r + j + 1) for j in range(r)])
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select(id_col, "_band.band_idx", "_band.band_hash")


def _cap_buckets(
    rows: DataFrame, keys: tuple[str, ...], max_bucket: int | None
) -> DataFrame:
    """Drop every bucket (rows sharing ``keys``) larger than
    ``max_bucket`` — the giant-bucket guard applied BEFORE a bucket
    self-join (``None`` keeps all). The count window partitions on the
    join's own keys, so it shares the join's shuffle."""
    if max_bucket is None:
        return rows
    wb = Window.partitionBy(*keys)
    return (
        rows.withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def _band_join(
    bands_a: DataFrame, id_col: str, bands_b: DataFrame | None = None
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs sharing an LSH bucket
    (band_idx, band_hash). Without ``bands_b`` it is a self-join of
    ``bands_a`` keeping id_a < id_b; otherwise id_a comes from
    ``bands_a`` and id_b from ``bands_b``. A pair colliding in several
    bands is kept once."""
    self_join = bands_b is None
    left = bands_a.select(F.col(id_col).alias("id_a"), *_BAND_KEYS)
    right = (bands_a if self_join else bands_b).select(
        F.col(id_col).alias("id_b"), *_BAND_KEYS
    )
    pairs = left.join(right, list(_BAND_KEYS))
    if self_join:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])


def _exact_jaccard() -> Column:
    """Exact Jaccard between the ``_sh_a``/``_sh_b`` shingle sets
    (distinct arrays); two empty sets give 0."""
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (inter / F.greatest(union, F.lit(1))).cast("double")


def _sig_est_jaccard(num_hashes: int) -> Column:
    """MinHash Jaccard estimate between ``_sig_a``/``_sig_b``:
    positional component agreement. Unrolled to ``num_hashes`` static
    equality terms (whole-stage codegen) — NOT a zip_with lambda,
    which is interpreted per element."""
    matches = sum(
        (F.element_at("_sig_a", i + 1) == F.element_at("_sig_b", i + 1)).cast("int")
        for i in range(num_hashes)
    )
    return (matches / F.lit(num_hashes)).cast("double")


def incremental_neardup(
    new_batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup dedup of a NEW ingest batch against a persisted
    ``minhash_signatures`` index AND within itself — the daily-ingest
    shape for near-duplicates (``incremental_dedup`` is the exact-match
    twin).

    Returns ``(kept, new_index_rows)``: the surviving batch docs, and
    their signatures to APPEND to the index. Only the new batch is
    ever shingled/signed; the corpus contributes signature rows (256
    B/doc) alone, so a daily batch costs O(batch) + one band join
    against the index — never a corpus re-sign. Idempotent: replaying
    an already-appended batch matches itself in the index (est
    Jaccard 1.0) and drops entirely.

    Candidate generation is banded LSH both ways (batch×batch and
    batch×index); verification is the SIGNATURE estimate (positional
    agreement ≥ ``threshold``) — the incremental trade: the index
    stores no shingle sets, so exact-Jaccard re-verification would
    need corpus text. Estimate variance at 32 hashes is ~±0.08; size
    ``threshold`` accordingly or raise ``num_hashes`` (the index
    scales linearly). Exact duplicates (identical shingle sets) have
    identical signatures, so est = 1.0 — cross-corpus exact dups are
    always caught. ``max_bucket`` as in ``minhash_lsh_pairs``.

    Within-batch survivors keep the min id per near-dup pair
    (single-hop, matching ``minhash_lsh_dedup``); batch docs matching
    the INDEX are dropped outright.
    """
    sig_new = minhash_signatures(
        new_batch, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)  # consumed by 3 band joins + append
    bn = _cap_buckets(_band_rows(sig_new, id_col, num_hashes, bands), _BAND_KEYS, max_bucket)
    bi = _cap_buckets(_band_rows(index, id_col, num_hashes, bands), _BAND_KEYS, max_bucket)

    sa = sig_new.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a"))
    sb = sig_new.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b"))
    si = index.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b"))
    est = _sig_est_jaccard(num_hashes)

    # batch docs near-duplicating the INDEX: dropped outright.
    # (r6 note: removing the pair-level dropDuplicates in favor of the
    # final DISTINCT id was tried and measured 3x SLOWER on a dup-heavy
    # corpus — the same pair colliding in several bands multiplies the
    # signature joins; the dedup is a load-bearing row reducer, kept.)
    cross = (
        _band_join(bn, id_col, bi)
        .join(sa, "id_a").join(si, "id_b")
        .filter(est >= threshold)
        .select(F.col("id_a").alias(id_col)).distinct()
    )
    # within-batch near-dup pairs: min id wins (id_a < id_b drops id_b)
    within_losers = (
        _band_join(bn, id_col)
        .join(sa, "id_a").join(sb, "id_b")
        .filter(est >= threshold)
        .select(F.col("id_b").alias(id_col)).distinct()
    )
    dropped = cross.union(within_losers).distinct()
    kept = new_batch.join(dropped, id_col, "left_anti")
    new_rows = sig_new.join(dropped, id_col, "left_anti")
    return kept, new_rows


def incremental_dedup(
    new_batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus index AND within
    itself: drop docs whose fingerprint is already indexed (anti-join
    on the 64-bit key — the index side is typically broadcast-sized
    per partition-pruned day, or a bucketed co-located join at full
    history), then keep min-id per fingerprint among the survivors.
    Only the new batch's fingerprints shuffle; corpus text is never
    touched. Composes with ingest.merge_late_batch (which dedups on
    (conv_id, turn_idx) identity; this dedups on content)."""
    fp = with_fingerprint(new_batch, text_col)
    fresh = fp.join(index, "fingerprint", "left_anti")
    keep = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return fresh.join(keep, ["fingerprint", id_col], "left_semi").drop("fingerprint")
