"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, then compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by all
columns, NaN==NaN, timestamps normalized to UTC-naive micros).

Before running a query it also hashes the query's normalized
``explain("formatted")`` into ``plans/hashes.json`` (sorted keys; a run
over a subset of queries updates only those entries). A refactor that
leaves ``git diff plans/hashes.json`` empty left every plan unchanged.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

With query names, only those run and the pass count is over them; a
name not in the catalog is an error (exit 2, nothing runs).
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from fte.conf import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
HASHES = REPO / "plans" / "hashes.json"

# per-session counters that vary with build order, not with the plan:
# expression ids, plan/subquery ids, RDD ids, and the JVM call site
# Spark records for an RDD (e.g. `localCheckpoint at <file>:0`)
_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\bid=#?\d+"), "id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r" at [^\s,]+:\d+"), " at <callsite>"),
]


def plan_hash(df, sf_dir: str) -> str:
    """sha256 of ``df``'s formatted physical plan with session-volatile
    ids and the data directory normalized away."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    plan = plan.replace(str(Path(sf_dir).resolve()), "<sf>")
    for pat, sub in _VOLATILE:
        plan = pat.sub(sub, plan)
    if "gid#" in plan:
        # Spark's distinct-aggregate rewrite orders the Expand groups
        # (and numbers their gid) by expression-id hashes, so such a plan
        # is compared as a bag of tokens: same operators, expressions
        # and columns, in any order
        plan = " ".join(sorted(re.findall(r"[^\s,\[\]()]+", plan)))
    return hashlib.sha256(plan.encode()).hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(name: str, ours: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    errs = []
    if len(ours) != len(oracle):
        errs.append(f"rowcount {len(ours)} != {len(oracle)}")
    if sorted(ours.columns) != sorted(oracle.columns):
        errs.append(f"columns {sorted(ours.columns)} != {sorted(oracle.columns)}")
        return errs
    a, b = normalize(ours), normalize(oracle)
    if len(a) == len(b):
        for c in a.columns:
            x, y = a[c], b[c]
            if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
                xa = pd.to_numeric(x, errors="coerce").to_numpy(dtype=float)
                ya = pd.to_numeric(y, errors="coerce").to_numpy(dtype=float)
                ok = np.isclose(xa, ya, rtol=1e-9, atol=1e-12, equal_nan=True) | (
                    np.isnan(xa) & np.isnan(ya)
                )
            else:
                ok = (x.astype(str).where(x.notna(), "<NULL>") == y.astype(str).where(y.notna(), "<NULL>")).to_numpy()
            nbad = int((~ok).sum())
            if nbad:
                i = int(np.argmax(~ok))
                errs.append(f"col {c}: {nbad} mismatches, first at row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(set(sys.argv[2:]) - qs.keys())
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}")
        return 2
    names = list(dict.fromkeys(sys.argv[2:])) or list(qs)
    spark = get_spark("check-oracle", master="local[8]",
                      extra_confs={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"})
    try:
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if Path(p).exists():
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        hashes = json.loads(HASHES.read_text()) if HASHES.exists() else {}
        failed = []
        for name in names:
            try:
                df = qs[name](spark, sf_dir)
                hashes[name] = plan_hash(df, sf_dir)
                ours = df.toPandas()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: spark error: {e}")
                failed.append(name)
                continue
            if name not in oracles:
                print(f"PASS {name} (rows-only: {len(ours)})")
                continue
            try:
                oracle = con.sql(oracles[name]).df()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error: {e}")
                failed.append(name)
                continue
            errs = compare(name, ours, oracle)
            if errs:
                print(f"FAIL {name}: " + "; ".join(errs))
                failed.append(name)
            else:
                print(f"PASS {name} ({len(ours)} rows)")
    finally:
        spark.stop()
    HASHES.write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    print(f"\n{len(names) - len(failed)}/{len(names)} pass")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
