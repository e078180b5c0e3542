"""Lint: input_hint bans per-row Python UDFs and the RDD API in the
engine (BASELINE.json:15 — 'vectorized pandas/Arrow UDFs (no per-row
Python) throughout'). SURVEY.md §2.B marks F.udf / RDD as banned.
`assert` statements are banned too: `python -O` strips them. Words
have one tokenizer, `fte.functions.words`: splitting `norm_text`
anywhere else is banned."""

from __future__ import annotations

import re
from pathlib import Path

FTE = Path(__file__).resolve().parents[1] / "fte"

BANNED = [
    (re.compile(r"\bF\.udf\b|\bfunctions\.udf\b|@udf\b"), "per-row Python UDF"),
    (re.compile(r"\.rdd\b(?!_)"), "RDD API"),
    (re.compile(r"\bsparkContext\.parallelize\b"), "RDD API"),
    (re.compile(r"^\s*assert\b", re.M), "assert statement"),
    (re.compile(r"\bF\.split\(\s*norm(?:_text\(|\b)"), "tokenizer copy (use fte.functions.words)"),
]
# the one file that may define a banned pattern: the tokenizer itself
OWNER = {"tokenizer copy (use fte.functions.words)": FTE / "functions.py"}


def test_no_banned_apis():
    offenders = []
    for p in FTE.rglob("*.py"):
        src = p.read_text()
        for pat, why in BANNED:
            if OWNER.get(why) == p:
                continue
            for m in pat.finditer(src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{p.name}:{line} {why}")
    assert not offenders, offenders
