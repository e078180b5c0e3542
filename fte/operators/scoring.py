"""Model-based scoring seam: run an arbitrary batch model over a text
column at corpus scale.

Every production curation pipeline ends with learned filters (fastText
quality/language classifiers, toxicity models, reward models). Those
libraries are not available offline, so the MODEL is pluggable and
the Spark-side contract is real and tested:

- Arrow-batched ``mapInPandas``: the model sees pandas Series of
  ``batch_size`` texts, never one row at a time (input_hint: no
  per-row Python).
- The model loads ONCE PER PYTHON WORKER: the cache lives in THIS
  module's globals, reached via ``import`` inside the task (resolved
  against the worker's ``sys.modules`` singleton). A closure-local
  dict does NOT work — PySpark re-deserializes the closure fresh for
  every task, so with more tasks than workers each task would reload
  a 100 MB classifier (the classic 100× regression; verified
  empirically: 12 partitions on local[2] called the loader 12 times).
- Only (id, score ...) columns come back; the text is consumed
  worker-side and never re-shipped.
- Deterministic fake model included for tests and offline runs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

# Per-worker-process model cache. Keyed by a stable loader identity so
# concurrent jobs with different models don't collide. Task closures
# must reach this through `import fte.operators.scoring` AT CALL TIME:
# cloudpickle copies globals referenced by dynamically-defined
# functions by value, so naming `_MODEL_CACHE` directly in the closure
# would hand each task a private copy and defeat the cache.
_MODEL_CACHE: dict = {}

# Bounded: long-lived reused workers that serve MANY different-model
# jobs would otherwise pin every 100MB-class model forever. LRU over
# insertion/touch order (plain dict ordering — workers are
# single-threaded per task, so no locking needed); 4 keeps any
# realistic concurrent pipeline stage hot while bounding worker RSS.
_MODEL_CACHE_MAX = 4


def _cache_get_or_load(key, loader):
    """Fetch ``key`` from the worker-side cache, loading (and evicting
    least-recently-used entries beyond ``_MODEL_CACHE_MAX``) on miss.
    Must be reached via the module singleton (see _MODEL_CACHE note)."""
    model = _MODEL_CACHE.pop(key, None)
    if model is None:
        model = loader()
    _MODEL_CACHE[key] = model  # (re)insert at most-recent position
    while len(_MODEL_CACHE) > _MODEL_CACHE_MAX:
        _MODEL_CACHE.pop(next(iter(_MODEL_CACHE)))
    return model


def fake_quality_model():
    """Deterministic stand-in classifier: score = fraction of
    distinct words (a real repetition-ish signal, cheap and stable).
    Returns a callable scoring a pandas Series of texts -> Series of
    float64 scores in [0, 1]."""

    def score(texts: pd.Series) -> pd.Series:
        def one(t: str) -> float:
            ws = str(t).lower().split()
            return (len(set(ws)) / len(ws)) if ws else 0.0

        return texts.map(one).astype("float64")

    return score


def score_with_model(
    df: DataFrame,
    model_loader: Callable[[], Callable[[pd.Series], pd.Series]] = fake_quality_model,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "model_score",
    batch_size: int = 1024,
    cache_key: str | None = None,
) -> DataFrame:
    """(id, model_score) for every document. ``model_loader`` is
    called lazily at most once per Python worker process WHILE AT
    MOST ``_MODEL_CACHE_MAX`` distinct models are active on that
    worker — its result is cached in
    ``fte.operators.scoring._MODEL_CACHE`` (a worker-side module
    global, shared across tasks, LRU-bounded). Beyond the cap,
    eviction can force a reload, bounded at once per TASK (the lookup
    is hoisted out of the per-batch loop), never once per Arrow
    batch; pipelines juggling more concurrent models should raise
    ``_MODEL_CACHE_MAX``. Keyed by ``cache_key`` (default:
    the sha256 of the loader's cloudpickle bytes, so distinct lambdas
    never collide and identical loaders share) — then applied per
    Arrow batch. Swap
    ``fake_quality_model`` for a real loader::

        score_with_model(docs, lambda: fasttext.load_model(...).predict_wrapper)

    Output grain = input grain; join back on ``id_col`` for payloads
    (the text itself never returns from the workers).
    """
    schema = f"{id_col} long, {out_col} double"
    if cache_key is None:
        # content-addressed default: two DIFFERENT lambdas/closures
        # must not share a key (module.qualname is '<lambda>' for
        # every lambda — a collision silently scores with the wrong
        # cached model), while byte-identical loaders SHOULD share
        # one (same bytes -> same model). The loader is pickled once
        # here anyway to ship to workers.
        import hashlib

        from pyspark import cloudpickle

        cache_key = hashlib.sha256(cloudpickle.dumps(model_loader)).hexdigest()
    key = cache_key

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # resolve the cache through the worker's module singleton —
        # NOT a closure/global reference, which cloudpickle would copy
        # per task (see _MODEL_CACHE comment above)
        import fte.operators.scoring as _scoring_mod

        # ONE cache lookup per task (not per Arrow batch): under LRU
        # pressure from >_MODEL_CACHE_MAX interleaved models, a
        # per-batch lookup would reload per batch; hoisting bounds the
        # worst case at one load per task. Lazy: empty partitions
        # never load.
        model = None
        for pdf in batches:
            if model is None:
                model = _scoring_mod._cache_get_or_load(key, model_loader)
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start:start + batch_size]
                yield pd.DataFrame(
                    {
                        id_col: chunk[id_col].to_numpy(),
                        out_col: model(chunk[text_col]).to_numpy(),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)
