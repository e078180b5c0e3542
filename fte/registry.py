"""Feature registry — FeatureHub's collaborative registry, re-realized.

The reference stores submitted feature functions (source code, md5,
description, metrics) in MySQL via SQLAlchemy and lets users discover
each other's features by substring search
[U: featurehub/admin/sqlalchemy_declarative.py::Feature,
 featurehub/user/session.py::Session.discover_features,
 featurehub/util.py::get_source, ::myhash].

Here the registry is an in-library catalog: ``@feature`` registers a
builder ``(DataFrame) -> DataFrame`` that ADDS feature columns keyed by
(conv_id, turn_idx). Source is captured with ``inspect.getsource`` and
hashed (sha256) for lineage/dedup — the same capability as the
reference's dill+md5 capture, without the server. Registry metadata can
be written alongside outputs as a small DataFrame (``to_metadata_df``)
so downstream jobs can audit which feature versions produced a matrix.

Validation (reference: EvaluatorClient.check — output length equals
entities rows, numeric-coercible, input not mutated
[U: featurehub/evaluation/client.py]) maps to structural checks here:
``validate`` asserts the builder preserves row count and the key
columns, and that declared output columns appear with the declared
types. Spark inputs are immutable, so the dataset-hash check is
inherent; ``fte.checkpoint.content_checksum`` gives lineage parity.
"""

from __future__ import annotations

import hashlib
import inspect
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class FeatureSpec:
    name: str
    builder: Callable[[DataFrame], DataFrame]
    outputs: tuple[str, ...]  # columns the builder adds
    description: str = ""
    author: str = ""
    leaky: bool = False  # True → uses future turns (train-time only)
    source: str = ""
    code_hash: str = ""
    tags: tuple[str, ...] = ()


@dataclass
class FeatureRegistry:
    features: dict[str, FeatureSpec] = field(default_factory=dict)
    # name -> CV metrics dict (the reference posted evaluator scores
    # back onto the Feature row [U: featurehub/evaluation/future.py];
    # here fte.evaluation.crossval_evaluate results land via
    # record_metrics and ride out in to_metadata_df)
    metrics: dict[str, dict] = field(default_factory=dict)

    def record_metrics(self, name: str, result: dict) -> None:
        """Attach a ``crossval_evaluate`` result to a registered
        feature (A8 write-back). Raises on unknown features so a typo
        can't silently orphan a score."""
        if name not in self.features:
            raise KeyError(f"unknown feature {name!r}")
        self.metrics[name] = result

    def register(
        self,
        builder: Callable[[DataFrame], DataFrame],
        name: str | None = None,
        outputs: tuple[str, ...] = (),
        description: str = "",
        author: str = "",
        leaky: bool = False,
        tags: tuple[str, ...] = (),
    ) -> FeatureSpec:
        fname = name or builder.__name__
        try:
            src = inspect.getsource(builder)
        except (OSError, TypeError):
            src = ""
        spec = FeatureSpec(
            name=fname,
            builder=builder,
            outputs=tuple(outputs),
            description=description or (builder.__doc__ or "").strip(),
            author=author,
            leaky=leaky,
            source=src,
            code_hash=hashlib.sha256(src.encode()).hexdigest()[:16],
            tags=tuple(tags),
        )
        if fname in self.features and self.features[fname].code_hash != spec.code_hash:
            raise ValueError(
                f"feature {fname!r} already registered with different code "
                f"(hash {self.features[fname].code_hash} != {spec.code_hash})"
            )
        self.features[fname] = spec
        return spec

    def feature(self, name: str | None = None, outputs: tuple[str, ...] = (), **kw):
        """Decorator form: ``@registry.feature(outputs=("f1",))``."""
        def deco(fn):
            self.register(fn, name=name, outputs=outputs, **kw)
            return fn
        return deco

    def get(self, name: str) -> FeatureSpec:
        return self.features[name]

    def discover(self, fragment: str = "", include_leaky: bool = True) -> list[FeatureSpec]:
        """Substring search over name/description/source — the
        reference's discover_features(code_fragment=...)."""
        out = []
        for s in self.features.values():
            if not include_leaky and s.leaky:
                continue
            if (
                fragment in s.name
                or fragment in s.description
                or fragment in s.source
            ):
                out.append(s)
        return sorted(out, key=lambda s: s.name)

    def to_metadata_df(self, spark) -> DataFrame:
        import json as _json

        rows = [
            (
                s.name, list(s.outputs), s.description, s.author, s.leaky,
                s.code_hash, list(s.tags),
                _json.dumps(self.metrics[s.name], sort_keys=True)
                if s.name in self.metrics else None,
            )
            for s in sorted(self.features.values(), key=lambda s: s.name)
        ]
        return spark.createDataFrame(
            rows,
            "name string, outputs array<string>, description string, "
            "author string, leaky boolean, code_hash string, tags array<string>, "
            "cv_metrics string",
        )

    def validate(self, spec: FeatureSpec, df: DataFrame, keys=("conv_id", "turn_idx")) -> DataFrame:
        """Structural validation of one builder against an input frame.

        Checks (cheap, one count each): row count preserved, key columns
        intact, declared outputs present. Returns the built frame.
        """
        n_in = df.count()
        out = spec.builder(df)
        missing = [c for c in keys if c not in out.columns]
        if missing:
            raise AssertionError(f"{spec.name}: dropped key columns {missing}")
        missing_out = [c for c in spec.outputs if c not in out.columns]
        if missing_out:
            raise AssertionError(f"{spec.name}: declared outputs missing {missing_out}")
        n_out = out.count()
        if n_out != n_in:
            raise AssertionError(f"{spec.name}: row count changed {n_in} → {n_out}")
        return out


LEAKY_PATTERNS = (
    "F.lead(", ".lead(", "unboundedFollowing", "Window.unboundedFollowing",
    "include_lead=True",
)


def lint_leakage(spec: FeatureSpec) -> list[str]:
    """Textual leakage lint: a builder NOT flagged leaky must not
    reference future-looking constructs in its source. Complements the
    behavioral property test (future-turn mutation ⇒ unchanged
    features) with a cheap static check at registration/review time."""
    if spec.leaky:
        return []
    return [p for p in LEAKY_PATTERNS if p in spec.source]


# A module-level default registry + decorator, mirroring the global
# FeatureHub session registry.
DEFAULT_REGISTRY = FeatureRegistry()


def feature(name: str | None = None, outputs: tuple[str, ...] = (), **kw):
    return DEFAULT_REGISTRY.feature(name=name, outputs=outputs, **kw)
