"""spark-submit entry point: build the feature matrix over a
transcripts parquet table and write it out (BASELINE.json:14 —
"run via spark-submit --py-files").

Usage:
  spark-submit --py-files fte.zip jobs/run_features.py \
      --input  <transcripts parquet dir or file> \
      --output <features_out dir> \
      [--serve] [--features f1,f2,...]

If --input is omitted, a deterministic synthetic transcripts table is
generated distributed (fte.synth.gen_transcripts_df) with --n-convs
conversations — the bench path.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fte.conf import get_spark
from fte.features import build_default_registry
from fte.pipeline import build_matrix
from fte.schema import TRANSCRIPTS_SCHEMA
from fte.synth import gen_transcripts_df


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--n-convs", type=int, default=1000)
    ap.add_argument("--serve", action="store_true")
    ap.add_argument("--features", default=None)
    ap.add_argument(
        "--resume", action="store_true",
        help="process per conv_bucket partition with _meta checkpoints; "
        "a rerun after a kill completes only the remaining partitions",
    )
    ap.add_argument("--meta-dir", default=None)
    args = ap.parse_args(argv)
    if args.resume and not args.output:
        ap.error("--resume requires --output")

    spark = get_spark("fte-run-features")

    if args.input:
        df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(args.input)
    else:
        df = gen_transcripts_df(spark, args.n_convs)

    reg = build_default_registry()
    feats = args.features.split(",") if args.features else None
    if feats is None and args.serve:
        feats = [n for n, s in reg.features.items() if not s.leaky]

    t0 = time.time()
    if args.resume:
        from fte.checkpoint import run_resumable
        from fte.io import with_partition_cols

        lineage = {
            n: reg.get(n).code_hash
            for n in (feats or sorted(reg.features))
            if n in reg.features
        }
        # resume unit = conv_bucket: a conversation lives wholly inside
        # one bucket, so per-partition feature computation sees every
        # turn of its conversations (ts_day would split conversations
        # across work units and corrupt the windows)
        parts = with_partition_cols(df)
        run_resumable(
            spark,
            parts,
            "conv_bucket",
            lambda d: build_matrix(d, reg, features=feats, serve=args.serve),
            args.output,
            args.meta_dir or (args.output.rstrip("/") + "_meta"),
            lineage=lineage,
        )
        n = spark.read.parquet(args.output).count()
        n_cols = len(spark.read.parquet(args.output).columns)
    else:
        mat = build_matrix(df, reg, features=feats, serve=args.serve)
        n_cols = len(mat.columns)
        if args.output:
            mat.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
        else:
            n = mat.count()
    dt = time.time() - t0
    print(f"FTE_RESULT rows={n} wall_s={dt:.2f} cols={n_cols}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
