"""Round-6 measurement harness (bench.py is FROZEN; this file is the
guide-§1.4 noop-sink isolation bench used for before/after evidence in
OPTIMIZATION_r06.md).

Usage:
    python bench_extra.py [--sf DIR] [--runs N] [query ...]

Times each named catalog query (default: the bench.py HEADLINE+EXTRA
set) through the noop sink with one warm-up + min-of-N, exactly the
bench.py methodology. Plan neutrality is checked by
tools/check_oracle.py (plans/hashes.json).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from fte.conf import get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from fte.queries import catalog

    spark = get_spark(
        "fte-bench-extra",
        master=f"local[{CPUS}]",
        extra_confs={
            "spark.sql.shuffle.partitions": str(max(CPUS, 8)),
            "spark.ui.enabled": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cat = catalog()
        names = args.queries or list(cat)
        out: dict[str, float] = {}
        for name in names:
            if name not in cat:
                print(f"!! unknown query {name}", file=sys.stderr)
                continue
            fn, _sql = cat[name]
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t_build = time.time()
            df = fn(spark, args.sf)
            build_s = time.time() - t_build
            _noop(df)  # warm-up
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.time()
                _noop(df)
                best = min(best, time.time() - t0)
            out[name] = round(best, 3)
            print(f"{name}: {out[name]} (build {build_s:.2f}s)", file=sys.stderr)
    finally:
        spark.stop()
    print(json.dumps({"sf": Path(args.sf).name, "runs": args.runs, "queries": out,
                      "total": round(sum(out.values()), 3)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
