"""Deterministic synthetic transcript generator (FIXTURES.md).

Every row is a pure function of (seed, conv index, turn index): the
same table is produced regardless of partitioning, parallelism, or
generation order. Small scales are generated driver-side in pandas;
large scales are generated distributed via ``mapInPandas`` over
``spark.range(n_convs)`` so that a 10^12-turn table never touches the
driver — each executor synthesizes only its span of conversations.

Distribution knobs follow FIXTURES.md §1: Zipf-ish conversation-length
skew (80% of convs 2-20 turns, ~1% single-turn, whale convs >=5000
turns at scale), ~1% adjacent ts ties, exp(30s) gaps with ~5% gaps
above the 1800s session threshold, lognormal text lengths with
unicode/newline cases.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from fte.schema import SESSION_GAP_SECONDS, TRANSCRIPTS_SCHEMA

BASE_EPOCH = np.datetime64("2025-01-01T00:00:00", "us")

_WORDS = np.array(
    [
        "alpha", "beta", "gamma", "delta", "query", "result", "tool",
        "call", "answer", "context", "token", "model", "turn", "data",
        "naïve", "café", "日本語", "emoji🙂", "line\nbreak", "tab\tsep",
    ]
)


def _conv_lengths(rng: np.random.Generator, n_convs: int, whale: bool) -> np.ndarray:
    """Zipf-ish turn counts: 80% in 2-20, tail up to ~200, ~1% singletons."""
    u = rng.random(n_convs)
    lengths = np.where(
        u < 0.01,
        1,
        np.where(
            u < 0.81,
            rng.integers(2, 21, n_convs),
            np.minimum((2 + rng.pareto(1.2, n_convs) * 8).astype(np.int64), 200),
        ),
    ).astype(np.int64)
    if whale and n_convs > 0:
        lengths[0] = max(lengths[0], 5000)  # the skew-path whale
    return lengths


def gen_conversation(seed: int, conv_idx: int, n_turns: int) -> pd.DataFrame:
    """Generate one conversation, purely from (seed, conv_idx)."""
    rng = np.random.default_rng([seed, conv_idx])
    conv_id = f"conv-{conv_idx:08d}"
    turn_idx = np.arange(n_turns, dtype=np.int32)

    # timestamps: exp(30s) gaps, ~5% session-splitting gaps, ~1% ties
    gaps = rng.exponential(30.0, n_turns)
    big = rng.random(n_turns) < 0.05
    gaps = np.where(big, SESSION_GAP_SECONDS + rng.exponential(900.0, n_turns), gaps)
    ties = rng.random(n_turns) < 0.01
    gaps = np.where(ties, 0.0, gaps)
    gaps[0] = 0.0
    start = rng.integers(0, 180 * 24 * 3600)  # conv start within ~6 months
    offsets_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + start * 1_000_000
    ts = BASE_EPOCH + offsets_us.astype("timedelta64[us]")

    # roles: optional system turn 0, then user/assistant alternation
    # with occasional tool-result turns
    role = np.where(turn_idx % 2 == 0, "user", "assistant")
    tool_turns = (rng.random(n_turns) < 0.08) & (turn_idx > 1)
    role = np.where(tool_turns, "tool", role)
    if n_turns > 1 and rng.random() < 0.3:
        role[0] = "system"

    # tool column: set on tool-result turns and ~30% of assistant turns
    tools = np.array(["search", "bash", "read", "write", "browse", "none"])
    tool_pick = tools[rng.integers(0, len(tools), n_turns)]
    has_tool = (role == "tool") | ((role == "assistant") & (rng.random(n_turns) < 0.3))
    tool = np.where(has_tool, tool_pick, None)

    # text: join words to a lognormal target char length in [1, 20000]
    target_len = np.clip(rng.lognormal(5.0, 1.0, n_turns), 1, 20000).astype(np.int64)
    word_ix = rng.integers(0, len(_WORDS), n_turns)
    texts = []
    for i in range(n_turns):
        w = _WORDS[(word_ix[i] + np.arange(1 + target_len[i] // 6)) % len(_WORDS)]
        texts.append(" ".join(w)[: max(int(target_len[i]), 1)])

    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": pd.array(role, dtype="string"),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array(tool, dtype="string"),
            "ts": pd.Series(ts),
        }
    )


def gen_transcripts_pdf(n_convs: int, seed: int = 42, whale: bool = False) -> pd.DataFrame:
    """Driver-side generation for tests (small n_convs only)."""
    rng = np.random.default_rng([seed, 0xC0FFEE])
    lengths = _conv_lengths(rng, n_convs, whale)
    frames = [gen_conversation(seed, i, int(lengths[i])) for i in range(n_convs)]
    out = pd.concat(frames, ignore_index=True)
    out["role"] = out["role"].astype(object)
    out["text"] = out["text"].astype(object)
    out["tool"] = out["tool"].astype(object).where(out["tool"].notna(), None)
    return out


def gen_transcripts_df(spark, n_convs: int, seed: int = 42, whale: bool = True):
    """Distributed generation: scales to any n_convs.

    ``spark.range`` partitions the conv-index space; each partition
    synthesizes its conversations locally. Per-conversation CONTENT is
    identical to ``gen_conversation(seed, idx, n)`` for the same
    (idx, n), but conversation LENGTHS come from a per-conv keyed
    stream (rng([seed, 0xBEEF, idx])) while ``gen_transcripts_pdf``
    draws them from one vectorized stream (rng([seed, 0xC0FFEE])), and
    ``whale`` defaults differ (True here, False there) — so the two
    tables are NOT row-for-row equal for the same (n_convs, seed).
    The pdf path is the small test fixture; this is the scale path.
    Within EACH path, output is fully deterministic in (n_convs, seed).
    """
    def gen_part(batches):
        for pdf in batches:
            for conv_idx in pdf["id"].to_numpy():
                # per-conv length from a dedicated stream keyed by index
                rng = np.random.default_rng([seed, 0xBEEF, int(conv_idx)])
                u = rng.random()
                if int(conv_idx) == 0 and whale:
                    n = 5000
                elif u < 0.01:
                    n = 1
                elif u < 0.81:
                    n = int(rng.integers(2, 21))
                else:
                    n = int(min(2 + rng.pareto(1.2) * 8, 200))
                yield gen_conversation(seed, int(conv_idx), n)

    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    return (
        spark.range(0, n_convs, numPartitions=n_parts)
        .mapInPandas(gen_part, schema=TRANSCRIPTS_SCHEMA)
    )


def gen_anchors_pdf(transcripts: pd.DataFrame, seed: int = 42, frac: float = 0.5) -> pd.DataFrame:
    """Anchor table exercising all as-of cases (FIXTURES.md §2):
    (a) ts exactly equal to a turn ts, (b) between turns, (c) before the
    first turn, (d) after the last, plus ~10% unknown conv_ids."""
    rng = np.random.default_rng([seed, 0xA11C])
    stats = (
        transcripts.groupby("conv_id")["ts"].agg(["min", "max", "count"]).reset_index()
    )
    picked = stats.sample(frac=frac, random_state=rng.integers(0, 2**31)).reset_index(drop=True)
    rows = []
    aid = 0
    for _, r in picked.iterrows():
        kind = rng.integers(0, 4)
        tmin, tmax = r["min"], r["max"]
        if kind == 0:  # exact match: pick an existing turn ts
            sub = transcripts.loc[transcripts["conv_id"] == r["conv_id"], "ts"]
            ts = sub.iloc[int(rng.integers(0, len(sub)))]
        elif kind == 1:  # between
            span = max((tmax - tmin).total_seconds(), 1.0)
            ts = tmin + pd.Timedelta(seconds=float(rng.random() * span))
        elif kind == 2:  # before first → no match
            ts = tmin - pd.Timedelta(seconds=float(1 + rng.exponential(60)))
        else:  # after last
            ts = tmax + pd.Timedelta(seconds=float(1 + rng.exponential(60)))
        rows.append((aid, r["conv_id"], ts))
        aid += 1
    # ~10% unknown convs → must yield nulls, not drop (left semantics)
    n_unknown = max(len(rows) // 9, 1)
    for j in range(n_unknown):
        rows.append((aid, f"conv-unknown-{j:04d}", pd.Timestamp("2025-03-01") + pd.Timedelta(seconds=j * 97)))
        aid += 1
    return pd.DataFrame(rows, columns=["anchor_id", "conv_id", "ts"])


def gen_labels_pdf(transcripts: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """Per-conv label observed shortly after a random turn."""
    rng = np.random.default_rng([seed, 0x1AB])
    g = transcripts.groupby("conv_id").agg(n=("turn_idx", "size"), last_ts=("ts", "max")).reset_index()
    g["ts"] = g["last_ts"] + pd.to_timedelta(rng.integers(1, 600, len(g)), unit="s")
    g["y"] = g["n"].astype(float) * 0.1 + rng.normal(0, 0.01, len(g))
    return g[["conv_id", "ts", "y"]]


def gen_late_batch_pdf(transcripts: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """~1% exact duplicates + ~1% genuinely new early-ts turns
    (FIXTURES.md §4) for dedup / idempotent-resume tests."""
    rng = np.random.default_rng([seed, 0x1A7E])
    n = len(transcripts)
    dup = transcripts.sample(n=max(n // 100, 1), random_state=rng.integers(0, 2**31))
    # new turns: take existing convs, append turn_idx beyond max with an
    # EARLIER ts than the conv's median (late-arriving data)
    g = transcripts.groupby("conv_id").agg(max_idx=("turn_idx", "max"), med=("ts", "median")).reset_index()
    g = g.sample(n=max(len(g) // 50, 1), random_state=rng.integers(0, 2**31))
    new = pd.DataFrame(
        {
            "conv_id": g["conv_id"].to_numpy(),
            "turn_idx": (g["max_idx"] + 1).astype(np.int32).to_numpy(),
            "role": "user",
            "text": "late arrival",
            "tool": None,
            "ts": (g["med"] - pd.Timedelta(seconds=5)).to_numpy(),
        }
    )
    return pd.concat([dup, new], ignore_index=True)
