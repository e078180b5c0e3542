"""spark-submit entry point: end-to-end training-corpus curation.

The "switch your pipeline to this repo" job: documents in, curated +
chunked + split + packed training data out, with a per-stage funnel
report. Every stage is an engine operator that is individually
oracle- or pytest-gated; this job is their composition (the runtime
twin of the oracle-checked `curation_funnel` catalog query).

  spark-submit --py-files fte.zip jobs/run_curation.py \
      --input  <documents parquet (doc_id, text, ...)> \
      --output <out dir>  [--chunk-words 256] [--stride 192] \
      [--capacity 2048]

Stages (each count printed in CURATION_RESULT):
  1. lang-ID gate        (with_lang_id: keep --lang, default en)
  2. quality gate        (with_quality_score >= --min-quality)
  3. repetition gate     (with_repetition_stats composite keep flag)
  4. PII redaction       (redact_pii — transform, not a filter)
  5. exact dedup         (fingerprint left-semi, min doc_id survives)
  6. near-dup drop       (MinHash LSH banded candidates + exact-Jaccard
                          verify; id_b of each verified pair dropped, or
                          with --canonical the best-quality member of
                          each dup component survives instead)
  6b. segment dedup      (--seg-words N, off by default: corpus-wide
                          keep-first removal of repeated N-word blocks
                          — the C4 repeated-paragraph rule; surviving
                          text is the normalized reassembly, docs that
                          were entirely repeats disappear)
  7. RAG chunking        (overlapping word windows over survivors)
  8. split assignment    (hash-stable train/val/test on doc_id —
                          BEFORE packing, so no bin mixes splits)
  9. sequence packing    (greedy token bins within hash shards,
                          per split)

Writes: <out>/documents (curated, redacted, split-labeled) and
<out>/chunks (chunk grain with split + bin assignment), both
partitioned by split. Prints ONE line:
  CURATION_RESULT {"n_input": ..., "n_lang": ..., ..., "wall_s": ...}
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession, functions as F

from fte.conf import get_spark


def curate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lang: str = "en",
    min_quality: float = 0.75,
    chunk_words: int = 256,
    stride: int = 192,
    capacity: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 0,
    canonical: bool = False,
) -> dict:
    from fte.operators.dedup import exact_dedup, minhash_lsh_pairs
    from fte.operators.packing import pack_documents
    from fte.operators.sampling import with_split
    from fte.operators.text import (
        chunk_documents,
        redact_pii,
        token_count,
        with_lang_id,
        with_quality_score,
        with_repetition_stats,
    )

    id_c, txt = id_col, text_col
    t0 = time.time()
    funnel: dict[str, int] = {}

    # r6 scan-spread (fte/scan.py): a single-file, single-row-group
    # input otherwise runs the whole regex/shingle funnel on ONE core;
    # identity on multi-split cluster scans.
    from fte.scan import spread

    docs = spread(spark.read.parquet(input_path), id_c)
    funnel["n_input"] = docs.count()

    # 1-2: lang + quality gates (one projection each, no shuffle)
    d = with_lang_id(docs, txt).filter(F.col("lang_pred") == lang)
    funnel["n_lang"] = d.count()
    d = with_quality_score(d, txt).filter(F.col("quality_score") >= min_quality)
    funnel["n_quality"] = d.count()

    # 3: repetition gate (explode + agg on id; join keep flags back)
    keep = with_repetition_stats(d, id_c, txt).filter("repetition_keep").select(id_c)
    d = d.join(keep, id_c, "left_semi")
    funnel["n_repetition"] = d.count()

    # 4: PII redaction — from here on, the redacted text IS the text
    d = redact_pii(d, txt).drop(txt).withColumnRenamed("text_redacted", txt)

    # 5: exact dedup on the redacted corpus
    d = exact_dedup(d, id_c, txt)
    funnel["n_exact_dedup"] = d.count()

    # 6: near-dup resolution (banded LSH candidates, exact-Jaccard
    # verified). Default keep rule: drop id_b of each verified pair
    # (min-id survives). --canonical instead keeps the BEST-QUALITY
    # member of each duplicate component (connected components over
    # the verified pairs; ties -> min id) — the production rule when
    # duplicates differ in quality (keep the clean copy, not the
    # lowest-numbered one).
    pairs = minhash_lsh_pairs(d, id_c, txt)
    if canonical:
        from fte.operators.dedup import canonical_per_cluster

        canon = canonical_per_cluster(d, pairs, id_c, "quality_score")
        keepers = canon.filter("is_canonical").select(id_c)
        d = d.join(keepers, id_c, "left_semi")
    else:
        losers = pairs.select(F.col("id_b").alias(id_c)).distinct()
        d = d.join(losers, id_c, "left_anti")
    funnel["n_neardup"] = d.count()

    # 6b (opt-in): cross-document repeated-block removal — every
    # repeated seg_words-word block keeps only its first corpus-wide
    # occurrence; the surviving text is the normalized reassembly and
    # docs that were entirely repeats drop out
    if seg_words:
        from fte.operators.dedup import segment_dedup

        # key_bits=128: the production path must not lose unique
        # segments to 64-bit birthday collisions (probable at 10^10+
        # distinct segments)
        sd = segment_dedup(d, id_c, txt, seg_words=seg_words, key_bits=128)
        d = d.drop(txt).join(
            sd.select(id_c, F.col("text_dedup").alias(txt)), id_c
        )
        funnel["n_segment"] = d.count()

    # 8 (before 7/9 so chunks inherit it): hash-stable split on doc_id
    d = with_split(d, id_c).localCheckpoint()  # funnel counted; cut lineage
    funnel["n_train"] = d.filter("split = 'train'").count()

    docs_out = f"{output_path}/documents"
    d.write.mode("overwrite").partitionBy("split").parquet(docs_out)

    # 7: chunk survivors; chunks inherit the doc's split label
    chunks = chunk_documents(d, id_c, txt, chunk_words, stride).join(
        d.select(id_c, "split"), id_c
    )
    # 9: pack chunks into fixed-token bins, PER SPLIT — packing shards
    # by hash, so packing the whole table at once would put train and
    # val chunks into the same bin; a per-split pass (3 static splits)
    # keeps every bin single-split. Bin key = (split, shard, bin_idx).
    chunks = chunks.withColumn("n_tokens", token_count("chunk")).withColumn(
        "_pack_id",
        F.concat_ws("#", F.col(id_c).cast("string"), F.col("chunk_idx").cast("string")),
    )
    split_names = [r["split"] for r in chunks.select("split").distinct().collect()]
    packed = None
    for s in split_names:
        p = pack_documents(
            chunks.filter(F.col("split") == s),
            "n_tokens", id_col="_pack_id", capacity=capacity,
        ).withColumn("split", F.lit(s))
        packed = p if packed is None else packed.unionByName(p)
    chunks = chunks.join(
        packed.select("_pack_id", "split", "shard", "bin_idx"), ["_pack_id", "split"]
    ).drop("_pack_id")
    funnel["n_chunks"] = chunks.count()
    chunks.write.mode("overwrite").partitionBy("split").parquet(f"{output_path}/chunks")

    funnel["wall_s"] = round(time.time() - t0, 2)
    return funnel


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-quality", type=float, default=0.75)
    ap.add_argument("--chunk-words", type=int, default=256)
    ap.add_argument("--stride", type=int, default=192)
    ap.add_argument("--capacity", type=int, default=2048)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--seg-words", type=int, default=0,
                    help="enable cross-doc repeated-block removal at "
                    "this block width (0 = off)")
    ap.add_argument("--canonical", action="store_true",
                    help="keep the best-quality member of each near-dup "
                    "cluster instead of the min-id member")
    args = ap.parse_args(argv)

    spark = get_spark("fte-curation")

    funnel = curate(
        spark, args.input, args.output,
        lang=args.lang, min_quality=args.min_quality,
        chunk_words=args.chunk_words, stride=args.stride,
        capacity=args.capacity, id_col=args.id_col, text_col=args.text_col,
        seg_words=args.seg_words,
        canonical=args.canonical,
    )
    print("CURATION_RESULT " + json.dumps(funnel))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
