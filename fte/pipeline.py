"""FeaturePlan: assemble a feature matrix from registered extractors.

The engine's only IR (SURVEY.md §3.4): an ordered list of
(name, builder) applied to the transcripts DataFrame, then projected to
keys + feature columns. Because every library extractor uses the same
WindowSpec, chaining builders composes into ONE Catalyst plan with one
conv_id shuffle — the assembly "join" of the reference
(pandas column-concat [U: featurehub/evaluation/client.py]) is free
here: features are computed in place on the fact table, aligned by
construction, no join needed for same-grain features.

``build_matrix`` first spreads its input by ``conv_id``
(``fte.scan.spread``): when the transcripts' scan would run as fewer
tasks than the session's shuffle parallelism (one local file with one
row group is ONE task), the one conv_id Exchange moves to the entry,
so the scalar extractors run on every core and the windows reuse that
Exchange. The price is that ``text`` then crosses it. An in-memory
frame, many files, or files on a cluster store leave the input as it
is: the Exchange stays above the scalar stage and never carries
``text``. ``build_anchor_matrix`` assembles the same matrix without
the spread (see its docstring).

As-of-grained features (anchors at arbitrary ts) go through
``fte.operators.asof`` instead and equi-join back on
(conv_id, turn_idx) when mixed with turn-grain features.

Serve-time safety: ``build_matrix(serve=True)`` refuses leaky
extractors (lead/future frames) — the structural replacement for the
reference's held-out-data re-execution defense (SURVEY.md §3.3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from fte.registry import FeatureRegistry
from fte.scan import spread

KEYS = ("conv_id", "turn_idx", "ts")


def build_matrix(
    df: DataFrame,
    registry: FeatureRegistry,
    features: Sequence[str] | None = None,
    serve: bool = False,
) -> DataFrame:
    return _assemble(spread(df, "conv_id"), registry, features, serve)


def _assemble(
    df: DataFrame,
    registry: FeatureRegistry,
    features: Sequence[str] | None,
    serve: bool,
) -> DataFrame:
    """``build_matrix`` on a frame taken as it is (no spread)."""
    if features is not None:
        names = list(features)
    else:
        # default set: everything at train time, non-leaky at serve time
        names = sorted(
            n for n, s in registry.features.items() if not (serve and s.leaky)
        )
    # apply per-row ('scalar'-tagged) builders FIRST, right after the
    # spread: unspread, their projections sit below the window shuffle,
    # so fat inputs (text) are consumed at the scan and pruned out of
    # the Exchange — Catalyst has no rule to transpose an arbitrary
    # Project below a Window, so operator order is the only way to
    # keep text out of the shuffle. Spread, they sit above the entry
    # Exchange the windows reuse and run on every core.
    names = sorted(
        names,
        key=lambda n: 0 if "scalar" in registry.get(n).tags else 1,
    )
    out = df
    out_cols: list[str] = []
    for name in names:
        spec = registry.get(name)
        if serve and spec.leaky:
            raise ValueError(
                f"feature {name!r} is leaky (uses future turns); refused at serve time"
            )
        out = spec.builder(out)
        out_cols.extend(spec.outputs)
    return out.select(*KEYS, *out_cols)


def build_anchor_matrix(
    anchors: DataFrame,
    transcripts: DataFrame,
    registry: FeatureRegistry,
    features: Sequence[str] | None = None,
    strategy: str = "window",
) -> DataFrame:
    """Feature matrix at ANCHOR grain — the full FeatureHub flow with
    point-in-time correctness.

    1. compute turn-grain features on the transcripts (serve mode —
       leaky extractors are refused, so every turn's feature row is a
       pure function of that turn and its past);
    2. as-of join each anchor (conv_id, ts) to the latest turn with
       turn.ts <= anchor.ts — that turn's cumulative features ARE the
       conversation state at the anchor (zero temporal leakage by
       construction: the matched row never saw anything after its own
       ts, and its ts <= anchor ts).

    The reference aligned features to a frozen entity table by row
    position [U: featurehub/evaluation/client.py]; here alignment is
    the PIT join, so anchors at arbitrary timestamps — including mid-
    conversation — get exactly the features observable at that moment.

    The transcripts are NOT spread here (``_assemble``, not
    ``build_matrix``): the as-of join unions the turn features with the
    anchors and shuffles that union by ``conv_id`` again, so a spread
    adds a second ``conv_id`` stage of 8 tasks whose speed differed
    from one session to the next (perfbench ``pit_train``: median pass
    times of 1.15–1.73 s over 10 fresh sessions with the spread, on a
    4-vCPU VM at local[4]; ROADMAP direction 2 has the runs).
    """
    from fte.operators.asof import asof_join

    turn_feats = _assemble(transcripts, registry, features, serve=True)
    feat_cols = [c for c in turn_feats.columns if c not in ("conv_id",)]
    return asof_join(
        anchors,
        turn_feats,
        strategy=strategy,
        by="conv_id",
        ts_col="ts",
        right_cols=tuple(feat_cols),
        prefix="f_",
    )


def attach_labels(
    anchor_matrix: DataFrame,
    labels: DataFrame,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Point-in-time label join: each anchor gets the latest label
    observed at or before its ts (FeatureHub's target_table_name
    analog, made leakage-safe — a label from the future never attaches)."""
    from fte.operators.asof import asof_join_window

    return asof_join_window(
        anchor_matrix,
        labels,
        by="conv_id",
        ts_col="ts",
        right_cols=("y", "ts"),
        prefix="label_",
        tolerance_seconds=tolerance_seconds,
        seq_col="y",  # labels have no turn_idx; ties broken on value (stable)
    )
