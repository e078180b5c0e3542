"""User-facing Session — FeatureHub's notebook API, re-realized.

Maps the reference surface [U: featurehub/user/session.py::Session]
onto the engine:

| reference                                | here |
|---|---|
| ``Session.get_sample_dataset()``         | ``Session.dataset`` / ``get_sample_dataset(n)`` — dict of DataFrames |
| ``Session.evaluate(feature)``            | ``evaluate`` — structural validation + summary stats of the new columns (the sklearn CV scoring of the reference is a modeling concern, out of engine scope per SURVEY.md §2 A8) |
| ``Session.submit(feature, description)`` | ``submit`` — register with source capture + sha256 lineage; metadata persisted to the _meta dir instead of MySQL/Discourse |
| ``Session.discover_features(code_fragment)`` | ``discover`` |
| ``Session.print_my_features()``          | ``my_features`` |

Isolation parity: the reference forked a subprocess per feature
[U: featurehub/util.py::run_isolated]; here pandas-UDF stages already
execute in separate Python workers per executor, and builders are
structurally validated (row count, keys, declared outputs) before
acceptance. Dataset-hash invariance [U: util.py::compute_dataset_hash]
is inherent (DataFrames immutable) and exposed as ``dataset_hash``
(``fte.checkpoint.content_checksum``).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from fte.checkpoint import content_checksum
from fte.pipeline import KEYS, build_matrix
from fte.registry import FeatureRegistry, FeatureSpec

_NUMERIC = ("int", "bigint", "double", "float", "smallint")


class Session:
    def __init__(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        registry: FeatureRegistry | None = None,
        user: str = "anonymous",
        meta_dir: str | None = None,
        extra_tables: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.user = user
        self.registry = registry or FeatureRegistry()
        self.meta_dir = meta_dir
        self.dataset: dict[str, DataFrame] = {"transcripts": transcripts}
        self.dataset.update(extra_tables or {})

    # ----------------------------------------------------- data access

    def get_sample_dataset(self, n: int = 1000) -> dict[str, DataFrame]:
        """Small, deterministic sample per table (the reference returned
        the problem's training split; we cap rows for notebook use)."""
        return {name: df.limit(n) for name, df in self.dataset.items()}

    def dataset_hash(self) -> int:
        return content_checksum(self.dataset["transcripts"])

    # ------------------------------------------------------ evaluation

    def evaluate(self, builder, outputs: tuple[str, ...] = ()) -> dict:
        """Validate a candidate feature builder against the dataset and
        return summary metrics of its output columns.

        Structural gate (reference: EvaluatorClient.check): row count
        preserved, key columns intact, declared outputs present. Stats
        are computed distributed; nothing is persisted.
        """
        spec = FeatureSpec(
            name=getattr(builder, "__name__", "candidate"),
            builder=builder,
            outputs=tuple(outputs),
        )
        out = self.registry.validate(spec, self.dataset["transcripts"])
        new_cols = [c for c in out.columns if c not in self.dataset["transcripts"].columns]
        stats = {}
        if new_cols:
            desc = out.select(new_cols).summary("count", "mean", "stddev", "min", "max")
            rows = desc.collect()
            for c in new_cols:
                stats[c] = {r["summary"]: r[c] for r in rows}
        return {"ok": True, "new_columns": new_cols, "stats": stats}

    def evaluate_cv(
        self,
        labels: DataFrame,
        label_col: str = "y",
        features=None,
        n_folds: int = 5,
        binary: bool = False,
        fitter=None,
    ) -> dict:
        """The reference's submit → re-execute → METRIC loop
        [U: featurehub/modeling/model.py::Model.compute_metrics_cv]:
        build the serve-safe feature matrix, join ``labels`` on
        (conv_id, turn_idx), then give EACH registered feature a
        grouped-k-fold CV score (distributed closed-form ridge by
        default, every feature and the joint model from one Gram scan;
        pass ``fitter`` to plug any model through the same seam) and
        write it back into the registry
        (``FeatureRegistry.record_metrics`` → ``to_metadata_df`` /
        meta_dir). Returns {feature_name: crossval result} plus the
        joint all-features model under "__all__".
        """
        from fte.evaluation import crossval_models

        names = list(features) if features is not None else sorted(
            n for n, s in self.registry.features.items() if not s.leaky
        )
        mat = build_matrix(
            self.dataset["transcripts"], self.registry, features=names, serve=True
        )
        m = mat.join(labels, ["conv_id", "turn_idx"]).localCheckpoint(eager=False)
        numeric = {c for c, t in m.dtypes if t in _NUMERIC}
        models = {}
        for name in names:
            cols = [c for c in self.registry.get(name).outputs if c in numeric]
            if cols:  # non-numeric features (ids, strings): no model metric
                models[name] = cols
        all_cols = sorted({c for r in names for c in self.registry.get(r).outputs} & numeric)
        if all_cols:
            models["__all__"] = all_cols
        results = crossval_models(
            m, models, label_col, n_folds=n_folds, binary=binary, fitter=fitter
        )
        for name, res in results.items():
            if name != "__all__":
                self.registry.record_metrics(name, res)
        if self.meta_dir:
            d = Path(self.meta_dir)
            d.mkdir(parents=True, exist_ok=True)
            (d / "cv_metrics.json").write_text(json.dumps(results, sort_keys=True))
        return results

    # ------------------------------------------------------ submission

    def submit(self, builder, description: str = "", outputs: tuple[str, ...] = (),
               leaky: bool = False, tags: tuple[str, ...] = ()) -> FeatureSpec:
        """Evaluate, then register (source + hash lineage) and persist
        registry metadata. Re-submitting identical code is idempotent;
        conflicting code under the same name is rejected (the
        reference deduped by md5 [U: featurehub/util.py::myhash])."""
        self.evaluate(builder, outputs)
        spec = self.registry.register(
            builder, outputs=outputs, description=description,
            author=self.user, leaky=leaky, tags=tags,
        )
        if self.meta_dir:
            d = Path(self.meta_dir)
            d.mkdir(parents=True, exist_ok=True)
            (d / f"feature_{spec.name}.json").write_text(
                json.dumps(
                    {
                        "name": spec.name,
                        "author": spec.author,
                        "description": spec.description,
                        "outputs": list(spec.outputs),
                        "code_hash": spec.code_hash,
                        "leaky": spec.leaky,
                        "submitted_at_unix": time.time(),
                        "source": spec.source,
                    }
                )
            )
        return spec

    # ------------------------------------------------------- discovery

    def discover(self, fragment: str = "") -> list[FeatureSpec]:
        return self.registry.discover(fragment)

    def my_features(self) -> list[FeatureSpec]:
        return [s for s in self.registry.features.values() if s.author == self.user]

    # ---------------------------------------------------------- matrix

    def feature_matrix(self, features=None, serve: bool = True) -> DataFrame:
        """The feature matrix plus ``feature_vector``: its numeric
        feature columns, in order, packed as one array<double>."""
        mat = build_matrix(
            self.dataset["transcripts"], self.registry, features=features, serve=serve,
        )
        numeric = [c for c, t in mat.dtypes if c not in KEYS and t in _NUMERIC]
        return mat.withColumn(
            "feature_vector", F.array(*[F.col(c).cast("double") for c in numeric])
        )
