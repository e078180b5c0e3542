"""Seeded benchmark inputs, cached per (size, seed) and checked on reuse.

Every table is a pure function of (size, seed). Transcripts come from
``fte.synth.gen_transcripts_df``, run in this process without a JVM so
that generation leaves no trace in the measured Spark session. Anchors,
labels and the catalog tables (documents, embeddings, events,
customer, orders, lineitem) are generated here with numpy in the shape
of the TPC-H-ish test tables: one parquet file with one row group per
table.

A cache directory holds ``inputs.json`` with each table's row count and
the sha256 of its files. A cached input is reused only when both still
match; otherwise it is generated again.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# full: the measured size; smoke: a small input for checking the harness
SIZES = {
    "full": {"n_convs": 2000, "sf": 0.01},
    "smoke": {"n_convs": 400, "sf": 0.001},
}

TRANSCRIPT_TABLES = ("transcripts", "anchors", "labels")
CATALOG_TABLES = ("documents", "embeddings", "events", "customer", "orders", "lineitem")
GROUPS = {"transcripts": TRANSCRIPT_TABLES, "catalog": CATALOG_TABLES}

_VOCAB = np.array(
    "a the spark join stream small order merge column group customer part value "
    "window big scan table vector row filter hash key batch data line sort agg "
    "query fast slow".split()
)


def _write_one(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1), compression="zstd")


def _files(path: Path) -> list[Path]:
    if path.is_dir():
        return sorted(path.glob("*.parquet"))
    return [path]


def _fingerprint(path: Path) -> dict:
    h = hashlib.sha256()
    rows = 0
    for f in _files(path):
        h.update(f.read_bytes())
        rows += pq.ParquetFile(f).metadata.num_rows
    return {"rows": rows, "sha256": h.hexdigest()}


def table_path(root: Path, name: str) -> Path:
    return root / (name if name in TRANSCRIPT_TABLES else f"{name}.parquet")


def _cache_ok(root: Path, names) -> bool:
    manifest = root / "inputs.json"
    if not manifest.exists():
        return False
    try:
        recorded = json.loads(manifest.read_text())
    except json.JSONDecodeError:
        return False
    for n in names:
        p = table_path(root, n)
        if n not in recorded or not p.exists() or _fingerprint(p) != recorded[n]:
            return False
    return True


def ensure_inputs(cache_root: Path, size: str, seed: int, group: str) -> tuple[Path, bool]:
    """Return (directory, reused) for the table group of (size, seed).

    Generates into a fresh directory when the cache is missing or fails
    its row-count/checksum check."""
    names = GROUPS[group]
    root = cache_root / f"{group}-{size}-seed{seed}"
    if _cache_ok(root, names):
        return root, True
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    cfg = SIZES[size]
    if group == "transcripts":
        _gen_transcript_tables(root, cfg["n_convs"], seed)
    else:
        rng = np.random.default_rng([seed, 0xCA7])
        for n in names:
            _write_one(_CATALOG_GEN[n](rng, cfg["sf"]), table_path(root, n))
    (root / "inputs.json").write_text(
        json.dumps({n: _fingerprint(table_path(root, n)) for n in names}, indent=1)
    )
    return root, False


# --------------------------------------------------------------------------
# transcripts, anchors, labels


class _InProcessSpark:
    """Stands in for the session ``gen_transcripts_df`` uses:
    ``range(n).mapInPandas(fn)`` applies ``fn`` to one pandas batch of
    conversation ids here, so the rows are those of the distributed path."""

    sparkContext = SimpleNamespace(defaultParallelism=1)

    def range(self, start: int, end: int, numPartitions: int = 1):
        ids = pd.DataFrame({"id": np.arange(start, end, dtype=np.int64)})
        return SimpleNamespace(
            mapInPandas=lambda fn, schema: pd.concat(list(fn([ids])), ignore_index=True)
        )


def _write_table_dir(pdf: pd.DataFrame, path: Path) -> None:
    """One parquet file under ``path``. Timestamps are stored UTC-adjusted,
    which Spark reads as TimestampType."""
    path.mkdir()
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    ts = table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    _write_one(table.set_column(table.schema.get_field_index("ts"), "ts", ts), path / "part-0.parquet")


def _gen_transcript_tables(root: Path, n_convs: int, seed: int) -> None:
    from fte.synth import gen_transcripts_df

    tr = gen_transcripts_df(_InProcessSpark(), n_convs, seed=seed, whale=True)
    for c in ("role", "text", "tool"):
        tr[c] = tr[c].astype(object).where(tr[c].notna(), None)
    tr["ts"] = tr["ts"].astype("datetime64[us]")
    _write_table_dir(tr, root / "transcripts")
    _write_table_dir(gen_anchors(tr, seed), root / "anchors")
    _write_table_dir(gen_labels(tr, seed), root / "labels")


def gen_anchors(turns: pd.DataFrame, seed: int) -> pd.DataFrame:
    """About one anchor per 7 turns over the FIXTURES.md §2 cases: exact
    turn ts, between turns, before the first turn, after the last turn,
    plus ~10% anchors on unknown conversations."""
    rng = np.random.default_rng([seed, 0xA11C])
    n = max(len(turns) // 7, 10)
    n_unknown = n // 10
    n_known = n - n_unknown
    pick = rng.integers(0, len(turns), n_known)
    conv = turns["conv_id"].to_numpy()[pick]
    span = turns.groupby("conv_id")["ts"].agg(["min", "max"])
    tmin = span["min"].reindex(conv).to_numpy("datetime64[us]")
    tmax = span["max"].reindex(conv).to_numpy("datetime64[us]")
    sec = lambda x: (x * 1e6).astype("int64").astype("timedelta64[us]")  # noqa: E731
    kind = rng.integers(0, 4, n_known)
    ts = np.select(
        [kind == 0, kind == 1, kind == 2],
        [
            turns["ts"].to_numpy("datetime64[us]")[pick],
            tmin + ((tmax - tmin) * rng.random(n_known)).astype("timedelta64[us]"),
            tmin - sec(1 + rng.exponential(60.0, n_known)),
        ],
        tmax + sec(1 + rng.exponential(60.0, n_known)),
    )
    unknown_ts = np.datetime64("2025-03-01", "us") + sec(np.arange(n_unknown) * 97.0)
    return pd.DataFrame(
        {
            "anchor_id": np.arange(n, dtype=np.int64),
            "conv_id": np.concatenate([conv, [f"conv-unknown-{j:04d}" for j in range(n_unknown)]]),
            "ts": np.concatenate([ts.astype("datetime64[us]"), unknown_ts]),
        }
    )


def gen_labels(turns: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Two labels per conversation: one observed 5 s before its first
    turn (so most anchors have a label before them) and a revised one
    at the midpoint that grows with the conversation's length."""
    rng = np.random.default_rng([seed, 0x1AB])
    g = turns.groupby("conv_id")["ts"].agg(["min", "max", "count"]).reset_index()
    early = g["min"] - pd.Timedelta(seconds=5)
    mid = g["min"] + (g["max"] - g["min"]) / 2 + pd.Timedelta(microseconds=1)
    y_early = rng.normal(0.0, 1.0, len(g))
    y_mid = np.log1p(g["count"].to_numpy()) + rng.normal(0.0, 0.5, len(g))
    out = pd.DataFrame(
        {
            "conv_id": np.concatenate([g["conv_id"], g["conv_id"]]),
            "ts": np.concatenate([early.to_numpy(), mid.to_numpy()]).astype("datetime64[us]"),
            "y": np.concatenate([y_early, y_mid]),
        }
    )
    return out.sort_values(["conv_id", "ts"], kind="mergesort").reset_index(drop=True)


# --------------------------------------------------------------------------
# catalog tables (schemas of the TPC-H-ish testdata)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_documents(rng, sf: float) -> pa.Table:
    n = max(int(50_000 * sf), 50)
    n_words = rng.integers(10, 100, n)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in n_words]
    # 5% near-duplicates: another document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = np.array(["en", "zh", "es", "de", "fr"])[
        rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def gen_embeddings(rng, sf: float) -> pa.Table:
    n = max(int(20_000 * sf), 500)
    e = rng.normal(size=(n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def gen_events(rng, sf: float) -> pa.Table:
    n = max(int(1_000_000 * sf), 1000)
    gaps_us = (rng.exponential(259.0, n) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n).astype(np.int64),
            "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
                rng.integers(0, 5, n)
            ],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def gen_customer(rng, sf: float) -> pa.Table:
    n = max(int(150_000 * sf), 150)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n)],
        }
    )


def gen_orders(rng, sf: float) -> pa.Table:
    n = max(int(1_500_000 * sf), 1500)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, max(int(150_000 * sf), 150), n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n)],
        }
    )


def gen_lineitem(rng, sf: float) -> pa.Table:
    n = max(int(6_000_000 * sf), 6000)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(int(1_500_000 * sf), 1500), n).astype(np.int64),
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 200), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(int(10_000 * sf), 10), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )


_CATALOG_GEN = {
    "documents": gen_documents,
    "embeddings": gen_embeddings,
    "events": gen_events,
    "customer": gen_customer,
    "orders": gen_orders,
    "lineitem": gen_lineitem,
}
