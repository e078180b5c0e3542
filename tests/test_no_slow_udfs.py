"""Lint: input_hint bans per-row Python UDFs and the RDD API in the
engine (BASELINE.json:15 — 'vectorized pandas/Arrow UDFs (no per-row
Python) throughout'). SURVEY.md §2.B marks F.udf / RDD as banned.
`assert` statements are banned too: `python -O` strips them. Words
have one tokenizer, `fte.functions.words`: splitting `norm_text`
anywhere else is banned. Percentiles have one exact-versus-approximate
choice, `fte.operators.encoding._percentile`: calling `F.percentile`
or `F.percentile_approx` anywhere else is banned."""

from __future__ import annotations

import ast
import re
from pathlib import Path

FTE = Path(__file__).resolve().parents[1] / "fte"

TOKENIZER = "tokenizer copy (use fte.functions.words)"
PERCENTILE = "percentile outside fte.operators.encoding._percentile"
BANNED = [
    (re.compile(r"\bF\.udf\b|\bfunctions\.udf\b|@udf\b"), "per-row Python UDF"),
    (re.compile(r"\.rdd\b(?!_)"), "RDD API"),
    (re.compile(r"\bsparkContext\.parallelize\b"), "RDD API"),
    (re.compile(r"^\s*assert\b", re.M), "assert statement"),
    (re.compile(r"\bF\.split\(\s*norm(?:_text\(|\b)"), TOKENIZER),
    (re.compile(r"\bF\.percentile(?:_approx)?\("), PERCENTILE),
]
# the one function that may contain a banned pattern: its definition
OWNER = {
    TOKENIZER: (FTE / "functions.py", "words"),
    PERCENTILE: (FTE / "operators" / "encoding.py", "_percentile"),
}


def _owned_lines(path: Path, src: str, func: str) -> range:
    for node in ast.walk(ast.parse(src, str(path))):
        if isinstance(node, ast.FunctionDef) and node.name == func:
            return range(node.lineno, node.end_lineno + 1)
    return range(0)


def test_no_banned_apis():
    offenders = []
    for p in FTE.rglob("*.py"):
        src = p.read_text()
        for pat, why in BANNED:
            owner, func = OWNER.get(why, (None, None))
            owned = _owned_lines(p, src, func) if owner == p else range(0)
            for m in pat.finditer(src):
                line = src[: m.start()].count("\n") + 1
                if line not in owned:
                    offenders.append(f"{p.name}:{line} {why}")
    assert not offenders, offenders
