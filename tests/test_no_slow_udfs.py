"""Lint: input_hint bans per-row Python UDFs and the RDD API in the
engine (BASELINE.json:15 — 'vectorized pandas/Arrow UDFs (no per-row
Python) throughout'). SURVEY.md §2.B marks F.udf / RDD as banned.
`assert` statements are banned too: `python -O` strips them. Words
have one tokenizer, `fte.functions.words`: splitting `norm_text`
anywhere else is banned. Percentiles have one exact-versus-approximate
choice, `fte.operators.encoding._percentile`: calling `F.percentile`
or `F.percentile_approx` anywhere else is banned.

Every `fte/` module needs a caller outside the tests: a module that
only tests import is code no job, query, bench or workload runs. The
caller graph is the `import` statements of the repo's non-test `.py`
files, read with `ast`; ALLOWED_UNCALLED lists the exceptions."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
FTE = ROOT / "fte"
# where the non-test callers live, besides the repo root's scripts
CALLER_DIRS = ("fte", "jobs", "perfbench", "tools")
ALLOWED_UNCALLED = {
    # FeatureHub's notebook API: its callers are users, not repo code
    "fte.session",
    # the FIXTURES.md §4 late-data merge, a library entry point
    "fte.operators.ingest",
}

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


def _module(p: Path) -> str:
    parts = p.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(p: Path) -> set[str]:
    """Every dotted name an absolute import in ``p`` loads, with its
    parents (the repo uses no relative imports)."""
    names = []
    for node in ast.walk(ast.parse(p.read_text(), str(p))):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names += [node.module] + [f"{node.module}.{a.name}" for a in node.names]
    parts = [n.split(".") for n in names]
    return {".".join(ps[:i]) for ps in parts for i in range(1, len(ps) + 1)} - {_module(p)}


def test_every_fte_module_has_a_caller():
    modules = {_module(p) for p in FTE.rglob("*.py")}
    callers = list(ROOT.glob("*.py"))
    callers += [p for d in CALLER_DIRS for p in (ROOT / d).rglob("*.py")]
    called = set().union(*(_imported(p) for p in callers))
    uncalled = sorted(modules - called - ALLOWED_UNCALLED)
    assert not uncalled, f"fte modules only tests import: {uncalled}"
