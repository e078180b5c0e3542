"""The four closed-loop workloads. One client (the harness) runs a pass,
waits for its complete, checked result, then starts the next.

Each workload has:
- ``register(spark, input_dir)``: the input half of set-up (readers only);
- ``run_pass(first)``: one pass through ``fte``'s public API (``first``:
  the session's first pass, whose results catalog_mix collects);
- ``check(result, full)`` / ``finish()``: output checks, untimed. The
  full check runs on the last timed pass, a quick one on every other;
- ``layers(tracer, stats)``: the traced run's per-layer probes. A layer's
  input is materialized to parquet first, then the layer's public call
  plus a ``noop`` action is timed, because a span around a lazy call
  only measures planning.
"""

from __future__ import annotations

import functools
import math
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from checks import check_asof_sample, check_matrix
from sparkstats import noop

WHALE = "conv-00000000"

# catalog queries, grouped by the fte module whose operators they exercise
CATALOG = {
    "text": ["lang_id", "pii_redact", "doc_quality", "repetition_stats", "bm25_batch", "unigram_xent"],
    "dedup": ["decontaminate", "minhash_neardup", "segment_dedup", "incremental_neardup"],
    "similarity": ["knn_batch", "emb_top_pairs_gemm", "emb_covariance", "quant_knn"],
    "encoding": ["oof_target_encode", "woe_encode"],
    "behavior": ["funnel", "cohort_retention"],
    "transcript": ["turn_runs"],
    "relational": ["revenue_by_segment", "tpch_pricing"],
    "asof": ["asof_join_merge"],
    "pandas_udf": ["pandas_udaf_median"],
    "pairs": ["training_pairs"],
}
QUERIES = [q for qs in CATALOG.values() for q in qs]
# queries without a DuckDB twin, with the reason; only a non-empty result is checked
ROWS_ONLY = {"minhash_neardup": "the MinHash hash family is not reproducible in SQL"}

WINDOW_FEATURES = {
    "f_rolling_counts": "windows.rolling_counts_s",
    "f_role_freq": "windows.role_freq_s",
    "f_text_stats": "windows.text_stats_s",
    "f_tool_ffill": "windows.backfill_s",
    "f_prev_turn": "windows.prev_turn_s",
    "f_session": "windows.sessionize_s",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    group = "transcripts"
    # per-layer metric prefixes no other workload measures
    own_layers: tuple[str, ...] = ()

    def __init__(self, spark, work_dir: Path, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0x5EED])

    def finish(self) -> list[str]:
        return []

    def layers(self, tracer, stats) -> dict[str, float]:
        return {}

    def traced_pass(self, tracer, stats, first: bool = False) -> dict[str, float]:
        """One pass run as a single tagged action; returns its wall and GC time."""
        with tracer.span(f"{self.name}.pass"):
            self.last_result, dt, s = stats.action(
                f"{self.name}.pass", lambda: self.run_pass(first=first))
        tracer.count(f"{self.name}.pass.wall_s", dt)
        for k, v in s.items():
            if isinstance(v, (int, float)):
                tracer.count(f"{self.name}.pass.{k}", v)
        self.last_pass_stats = s
        return {"wall_s": dt, "gc_s": s["gc_s"]}


class _TranscriptWorkload(Workload):
    """Shared input handling for the three transcript workloads."""

    def register(self, spark, input_dir: Path) -> None:
        from fte.schema import TRANSCRIPTS_SCHEMA

        self.input_dir = input_dir
        self.turns = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(input_dir / "transcripts"))
        self.n_turns = pq.ParquetDataset(input_dir / "transcripts").read(columns=["turn_idx"]).num_rows

    @functools.cached_property
    def turns_pdf(self) -> pd.DataFrame:
        pdf = pd.read_parquet(self.input_dir / "transcripts")
        pdf["ts"] = pdf["ts"].dt.tz_convert(None).astype("datetime64[us]")
        return pdf

    @functools.cached_property
    def sample_convs(self) -> list[str]:
        """About 200 seed-chosen conversations, always including the whale."""
        convs = np.sort(self.turns_pdf["conv_id"].unique())
        pick = self.rng.choice(convs, size=min(199, len(convs)), replace=False)
        return sorted(set(pick.tolist()) | {WHALE})

    def serve_features(self, reg) -> list[str]:
        return sorted(n for n, s in reg.features.items() if not s.leaky)

    def scan_layer(self, stats) -> dict[str, float]:
        _, dt, s = stats.action("scan", lambda: noop(self.turns))
        return {"scan.s": dt, "scan.tasks": s["tasks"], "scan.bytes_read": s["scan_bytes"]}


class MatrixServe(_TranscriptWorkload):
    """build_default_registry + build_matrix(serve=True) into the noop sink."""

    name = "matrix_serve"

    def run_pass(self, first: bool):
        from fte.features import build_default_registry
        from fte.pipeline import build_matrix

        reg = build_default_registry()
        matrix, self.plan_s = _timed(lambda: build_matrix(self.turns, reg, serve=True))
        noop(matrix)
        return matrix

    def check(self, matrix, full: bool) -> list[str]:
        if not full:
            n = matrix.count()
            return [] if n == self.n_turns else [f"matrix: {n} rows, want {self.n_turns}"]
        got = matrix.filter(F.col("conv_id").isin(self.sample_convs)).toPandas()
        want = self.turns_pdf[self.turns_pdf["conv_id"].isin(self.sample_convs)]
        return check_matrix(got, want)

    def layers(self, tracer, stats) -> dict[str, float]:
        from fte.features import build_default_registry

        reg = build_default_registry()
        out = self.scan_layer(stats)
        st = self.last_pass_stats
        out.update({
            "pipeline.plan_s": self.plan_s,
            "scan.reads_per_table": max(st["scans_per_table"].values(), default=0),
            "windows.exchanges": st["exchanges"],
            "windows.shuffle_bytes": st["shuffle_write_bytes"],
            "windows.spill_bytes": st["spill_bytes"],
            "windows.task_skew": st["task_skew"],
        })
        scalars = [n for n in self.serve_features(reg) if "scalar" in reg.get(n).tags]
        df = self.turns
        for n in scalars:
            df = reg.get(n).builder(df)
        with tracer.span("features.scalar"):
            _, out["features.scalar_s"], _ = stats.action("features.scalar", lambda: noop(df))
        # the windows' input: what is left after the scalar stage
        proj_path = self.work / "layer_scalar_out"
        df.drop("text").write.mode("overwrite").parquet(str(proj_path))
        proj = self.spark.read.parquet(str(proj_path))
        for feat, metric in WINDOW_FEATURES.items():
            with tracer.span(metric):
                _, out[metric], _ = stats.action(metric, lambda: noop(reg.get(feat).builder(proj)))
        return out


class PitTrain(_TranscriptWorkload):
    """build_anchor_matrix -> attach_labels -> parquet training set ->
    5-fold crossval_evaluate."""

    name = "pit_train"

    def register(self, spark, input_dir: Path) -> None:
        from fte.schema import ANCHORS_SCHEMA, LABELS_SCHEMA

        super().register(spark, input_dir)
        self.anchors = spark.read.schema(ANCHORS_SCHEMA).parquet(str(input_dir / "anchors"))
        self.labels = spark.read.schema(LABELS_SCHEMA).parquet(str(input_dir / "labels"))
        self.train_path = self.work / "train"

    def _training_set(self):
        from fte.features import build_default_registry
        from fte.pipeline import attach_labels, build_anchor_matrix

        reg = build_default_registry()
        return attach_labels(build_anchor_matrix(self.anchors, self.turns, reg), self.labels)

    def _cv(self, train):
        from fte.evaluation import crossval_evaluate

        rows = train.filter(F.col("label_y").isNotNull() & F.col("f_turn_idx").isNotNull())
        return crossval_evaluate(rows, self.feature_cols(train), "label_y", n_folds=5, seed=self.seed)

    @staticmethod
    def feature_cols(train) -> list[str]:
        return [c for c, t in train.dtypes if c.startswith("f_") and t in ("int", "bigint", "double")]

    def run_pass(self, first: bool):
        labelled, self.plan_s = _timed(self._training_set)
        labelled.write.mode("overwrite").parquet(str(self.train_path))
        return self._cv(self.spark.read.parquet(str(self.train_path)))

    def check(self, cv, full: bool) -> list[str]:
        errs = []
        got = pd.read_parquet(self.train_path, columns=["anchor_id", "ts", "f_turn_idx", "f_ts", "label_ts"])
        n_anchors = pq.ParquetDataset(self.input_dir / "anchors").read(columns=["anchor_id"]).num_rows
        if len(got) != n_anchors or got["anchor_id"].nunique() != n_anchors:
            errs.append(f"pit: {len(got)} rows / {got['anchor_id'].nunique()} anchors, want {n_anchors}")
        for col in ("f_ts", "label_ts"):
            late = int((got[col].notna() & (got[col] > got["ts"])).sum())
            if late:
                errs.append(f"pit: {late} rows with {col} later than the anchor")
        if not all(math.isfinite(v) for v in cv["mean"].values()):
            errs.append(f"pit: non-finite CV means {cv['mean']}")
        if full:
            anchors = pd.read_parquet(self.input_dir / "anchors")
            anchors["ts"] = anchors["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
            sample = anchors.sample(n=min(300, len(anchors)), random_state=self.seed)
            turns = self.turns_pdf[self.turns_pdf["conv_id"].isin(sample["conv_id"])]
            mine = got[got["anchor_id"].isin(sample["anchor_id"])][["anchor_id", "f_turn_idx", "f_ts"]]
            errs += check_asof_sample(mine, sample, turns)
        return errs

    def layers(self, tracer, stats) -> dict[str, float]:
        from fte.evaluation import regression_metrics, ridge_fitter
        from fte.features import build_default_registry
        from fte.operators.asof import asof_join
        from fte.operators.sampling import with_fold
        from fte.pipeline import attach_labels, build_matrix

        out = self.scan_layer(stats)
        st = self.last_pass_stats
        out["pipeline.plan_s"] = self.plan_s
        out["scan.reads_per_table"] = max(st["scans_per_table"].values(), default=0)
        reg = build_default_registry()

        feats_path = self.work / "layer_turn_features"
        build_matrix(self.turns, reg, serve=True).write.mode("overwrite").parquet(str(feats_path))
        turn_feats = self.spark.read.parquet(str(feats_path))
        right = tuple(c for c in turn_feats.columns if c != "conv_id")
        asof_df = asof_join(self.anchors, turn_feats, strategy="window", by="conv_id",
                            ts_col="ts", right_cols=right, prefix="f_")
        with tracer.span("asof"):
            _, out["asof.s"], s = stats.action("asof", lambda: noop(asof_df))
        out["asof.shuffle_bytes"] = s["shuffle_write_bytes"]

        am_path = self.work / "layer_anchor_matrix"
        asof_df.write.mode("overwrite").parquet(str(am_path))
        am = self.spark.read.parquet(str(am_path))
        with tracer.span("pipeline.attach_labels"):
            _, out["pipeline.attach_labels_s"], _ = stats.action(
                "attach_labels", lambda: noop(attach_labels(am, self.labels)))

        got = pd.read_parquet(self.train_path, columns=["f_turn_idx", "label_y"])
        out["asof.match_ratio"] = float(got["f_turn_idx"].notna().mean())
        out["pipeline.label_ratio"] = float(got["label_y"].notna().mean())

        labelled = self.spark.read.parquet(str(self.train_path))
        sink_path = self.work / "layer_sink"
        with tracer.span("sink.write"):
            _, out["sink.write_s"], _ = stats.action(
                "sink.write", lambda: labelled.write.mode("overwrite").parquet(str(sink_path)))
        out["sink.bytes_written"], out["sink.files_written"] = _dir_size(sink_path)

        cols = self.feature_cols(labelled)
        rows = labelled.filter(F.col("label_y").isNotNull() & F.col("f_turn_idx").isNotNull())
        folded = with_fold(rows, "conv_id", n_folds=5, seed=self.seed).localCheckpoint(eager=True)
        fit_s, metrics_s, agg_exprs, jobs = [], [], [], 0
        for f in range(5):
            with tracer.span(f"evaluation.fold{f}"):
                scorer, dt, s = stats.action("evaluation.fit", lambda: ridge_fitter()(
                    folded.filter(F.col("fold") != f), cols, "label_y"))
                fit_s.append(dt)
                agg_exprs.append(s["agg_exprs"])
                jobs += s["jobs"]
                test = scorer(folded.filter(F.col("fold") == f))
                _, dt, s = stats.action("evaluation.metrics", lambda: regression_metrics(test, "label_y"))
                metrics_s.append(dt)
                jobs += s["jobs"]
        out["evaluation.fit_s"] = _median(fit_s)
        out["evaluation.metrics_s"] = _median(metrics_s)
        # aggregate functions in the executed fit plan
        out["evaluation.agg_exprs"] = _median(agg_exprs)
        out["evaluation.jobs"] = jobs
        return out


class MatrixResume(_TranscriptWorkload):
    """The run_features --resume path: with_partition_cols +
    run_resumable(build_matrix) over 8 conv buckets, into a fresh
    directory each pass, then the job's read-back count."""

    name = "matrix_resume"
    own_layers = ("checkpoint.", "io.")

    def register(self, spark, input_dir: Path) -> None:
        super().register(spark, input_dir)
        self.n_pass = 0
        self.ref = None

    def run_pass(self, first: bool):
        from fte.checkpoint import run_resumable
        from fte.features import build_default_registry
        from fte.io import with_partition_cols
        from fte.pipeline import build_matrix

        reg = build_default_registry()
        feats = self.serve_features(reg)
        lineage = {n: reg.get(n).code_hash for n in feats}
        self.n_pass += 1
        out = self.work / f"resume{self.n_pass}"
        self.plan_times = []

        def process(d):
            m, dt = _timed(lambda: build_matrix(d, reg, features=feats, serve=True))
            self.plan_times.append(dt)
            return m

        self.last = (out, process)
        results = run_resumable(self.spark, with_partition_cols(self.turns), "conv_bucket",
                                process, str(out), str(out) + "_meta", lineage=lineage)
        n = self.spark.read.parquet(str(out)).count()
        return results, n

    def _reference(self):
        """Row count and content_checksum of the matrix_serve matrix, with
        the conv_bucket column the resumable output carries."""
        from fte.checkpoint import content_checksum
        from fte.features import build_default_registry
        from fte.pipeline import build_matrix

        reg = build_default_registry()
        m = build_matrix(self.turns, reg, features=self.serve_features(reg), serve=True)
        m = m.withColumn("conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int"))
        return self.n_turns, content_checksum(m)

    def check(self, result, full: bool) -> list[str]:
        results, n = result
        if self.ref is None:
            self.ref = self._reference()
        rows = sum(r.row_count for r in results)
        checksum = functools.reduce(lambda a, b: a ^ b, (r.checksum for r in results), 0)
        errs = []
        if len(results) != 8:
            errs.append(f"resume: {len(results)} partitions processed, want 8")
        if (rows, checksum) != self.ref or n != self.ref[0]:
            errs.append(f"resume: rows {rows}/{n} checksum {checksum} != matrix_serve {self.ref}")
        prev = self.work / f"resume{self.n_pass - 1}"  # keep only the latest output
        shutil.rmtree(prev, ignore_errors=True)
        shutil.rmtree(prev.with_name(prev.name + "_meta"), ignore_errors=True)
        return errs

    def finish(self) -> list[str]:
        from fte.checkpoint import run_resumable
        from fte.io import with_partition_cols

        out, process = self.last
        again = run_resumable(self.spark, with_partition_cols(self.turns), "conv_bucket",
                              process, str(out), str(out) + "_meta")
        return [f"resume: rerun reprocessed {len(again)} partitions"] if again else []

    def layers(self, tracer, stats) -> dict[str, float]:
        from fte.checkpoint import content_checksum

        out = self.scan_layer(stats)
        st = self.last_pass_stats
        results, _ = self.last_result
        out["pipeline.plan_s"] = sum(self.plan_times)
        out["scan.reads_per_table"] = max(st["scans_per_table"].values(), default=0)
        out["checkpoint.partition_s"] = _median([r.wall_s for r in results])
        path, _ = self.last
        readback, checksum = [], []
        for r in results:
            part = self.spark.read.parquet(str(path)).filter(F.col("conv_bucket") == int(r.partition))
            readback.append(stats.action("checkpoint.readback", part.count)[1])
            checksum.append(stats.action("checkpoint.checksum", lambda: content_checksum(part))[1])
        out["checkpoint.readback_s"] = _median(readback)
        out["checkpoint.checksum_s"] = _median(checksum)
        # transcript rows the pass scanned per row it wrote
        scanned = st["scan_rows_by_table"].get("transcripts", 0)
        out["checkpoint.scan_amplification"] = scanned / max(self.n_turns, 1)
        out["io.bytes_written"], out["io.files_written"] = _dir_size(path)
        return out


class CatalogMix(Workload):
    """24 catalog queries; each pass builds every plan afresh and runs its
    first action through noop (the first pass collects and checks)."""

    name = "catalog_mix"
    group = "catalog"
    own_layers = ("catalog.",)

    def register(self, spark, input_dir: Path) -> None:
        from inputs import CATALOG_TABLES, table_path

        from fte.queries import catalog

        self.input_dir = input_dir
        self.sf_dir = str(input_dir)
        self.tables = {t: spark.read.parquet(str(table_path(input_dir, t))) for t in CATALOG_TABLES}
        self.n_turns = pq.ParquetFile(table_path(input_dir, "events")).metadata.num_rows
        cat = catalog()
        self.queries = {q: cat[q] for q in QUERIES}
        self.times: dict[str, list[tuple[float, float]]] = {q: [] for q in QUERIES}

    def run_pass(self, first: bool):
        results = {}
        for q, (fn, _sql) in self.queries.items():
            df, plan_s = _timed(lambda: fn(self.spark, self.sf_dir))
            results[q], run_s = _timed(df.toPandas if first else lambda: noop(df))
            if not first:
                self.times[q].append((plan_s, run_s))
        return results if first else None

    def check(self, results, full: bool) -> list[str]:
        if results is None:  # noop passes leave nothing to compare
            return []
        import duckdb

        from inputs import CATALOG_TABLES, table_path
        from tools.check_oracle import compare

        con = duckdb.connect()
        try:
            for t in CATALOG_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(self.input_dir, t)}'")
            errs = []
            for q, (_fn, sql) in self.queries.items():
                ours = results[q]
                if q in ROWS_ONLY:
                    if len(ours) == 0:
                        errs.append(f"{q}: no rows")
                    continue
                errs += [f"{q}: {e}" for e in compare(q, ours, con.sql(sql).df())]
            return errs
        finally:
            con.close()

    def traced_pass(self, tracer, stats, first: bool = False) -> dict[str, float]:
        total, gc = 0.0, 0.0
        self.query_stats, results = {}, {}
        with tracer.span("catalog_mix.pass"):
            for q, (fn, _sql) in self.queries.items():
                with tracer.span(f"catalog.{q}"):
                    df, plan_s = _timed(lambda: fn(self.spark, self.sf_dir))
                    results[q], run_s, s = stats.action(
                        f"catalog.{q}", df.toPandas if first else lambda: noop(df))
                self.query_stats[q] = s
                self.times[q].append((plan_s, run_s))
                total += plan_s + run_s
                gc += s["gc_s"]
        self.last_result = results if first else None
        return {"wall_s": total, "gc_s": gc}

    def layers(self, tracer, stats) -> dict[str, float]:
        out = {}
        scan_s, tasks, read = 0.0, 0, 0
        for t, df in self.tables.items():
            _, dt, s = stats.action(f"scan.{t}", lambda: noop(df))
            scan_s += dt
            tasks += s["tasks"]
            read += s["scan_bytes"]
        out.update({"scan.s": scan_s, "scan.tasks": tasks, "scan.bytes_read": read})
        reads = 0
        for module, qs in CATALOG.items():
            module_s = 0.0
            for q in qs:
                plan_s = _median([p for p, _ in self.times[q]])
                run_s = _median([r for _, r in self.times[q]])
                s = self.query_stats[q]
                out[f"catalog.{q}.plan_s"] = plan_s
                out[f"catalog.{q}.run_s"] = run_s
                out[f"catalog.{q}.exchanges"] = s["exchanges"]
                reads = max(reads, max(s["scans_per_table"].values(), default=0))
                module_s += plan_s + run_s
            out[f"catalog.{module}.s"] = module_s
        out["scan.reads_per_table"] = reads
        return out


WORKLOADS = {w.name: w for w in (MatrixServe, PitTrain, MatrixResume, CatalogMix)}
