"""Benchmark for fte: closed-loop workloads, one client each, on local[4]
in one driver process.

    python3 perfbench/run.py --workload matrix_serve --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1            # every workload
    python3 perfbench/run.py --workload all --size smoke        # harness check, small inputs

A run generates (or reuses, after checking) its inputs from ``--seed``,
sets the session up several times, each in a fresh JVM, and reports the median as
``setup_s``, warms up for ``WARMUP_S`` (its first pass is reported as
``session.first_pass_s``), then runs passes for ``--seconds`` (at least
one) and reports the median pass as ``wall_s``. The last pass gets the
full output check, every other pass a quick one. With ``--trace 1`` it then runs a traced pass and
the per-layer probes, writes every span and counter to
``.perfbench/traces/``, and reports the per-layer metrics.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
# set-ups per run, each in a fresh JVM (~6 s); the last one's session
# runs the passes. Two keep a run of every listed workload within its
# share of the benchmark's time budget.
SETUPS = 2
# the session warms up for at least this long, its first pass included,
# before passes are timed: matrix_serve passes still get ~30% faster
# over the ~6 s after its first pass, while pit_train's first pass alone
# takes longer than this
WARMUP_S = 16
WORKLOAD_NAMES = ("matrix_serve", "pit_train", "matrix_resume", "catalog_mix")
# BENCHMARK.json lists matrix_serve and pit_train. The traced run of
# matrix_serve also probes the layers that only matrix_resume and
# catalog_mix exercise, so every layer is measured on a listed workload.
LAYER_PROBES = {"matrix_serve": ("matrix_resume", "catalog_mix")}


def spark_confs(tmp: Path) -> dict[str, str]:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.driver.extraJavaOptions": f"-XX:+UseG1GC -Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(tmp / "local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    }


def prepare_env(tmp: Path) -> None:
    """Python workers import fte from the checkout whatever the working
    directory; Spark and Python scratch files stay under ``tmp``."""
    (tmp / "local").mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit;
    the next ``get_spark`` then launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """One workload in one fresh driver process."""

    def __init__(self, args, spec: dict):
        self.args = args
        self.spec = spec
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def checked(self, fn, *a) -> None:
        """Run one check; a raised exception counts as a failed check."""
        try:
            errs = fn(*a)
        except Exception:  # noqa: BLE001 - any failure is a failed check
            errs = [traceback.format_exc(limit=3)]
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += errs

    def execute(self) -> dict:
        import inputs
        from sparkstats import SparkStats, Tracer
        from workloads import WORKLOADS

        from fte.conf import get_spark
        from fte.features import build_default_registry

        a = self.args
        tmp = STATE / "tmp" / f"{a.workload}-{os.getpid()}"
        prepare_env(tmp)
        confs = spark_confs(tmp)
        cls = WORKLOADS[a.workload]
        tracer = Tracer(run_id=f"{a.workload}-seed{a.seed}-{os.getpid()}")
        start = lambda: get_spark("perfbench", master=MASTER, extra_confs=confs)  # noqa: E731

        with tracer.span("inputs"):
            t0 = time.perf_counter()
            input_dir, reused = inputs.ensure_inputs(STATE / "cache", a.size, a.seed, cls.group)
            generate_s = time.perf_counter() - t0
        spark = None
        try:
            setup, get_spark_s, registry_s = [], [], []
            for _ in range(SETUPS):
                if spark is not None:
                    stop_spark(spark)
                with tracer.span("setup"):
                    t0 = time.perf_counter()
                    with tracer.span("conf.get_spark"):
                        spark = start()
                    t1 = time.perf_counter()
                    build_default_registry()
                    t2 = time.perf_counter()
                    wl = cls(spark, tmp / "work", a.seed)
                    wl.register(spark, input_dir)
                    setup.append(time.perf_counter() - t0)
                    get_spark_s.append(t1 - t0)
                    registry_s.append(t2 - t1)
            spark.sparkContext.setLogLevel("ERROR")
            stats = SparkStats(spark)

            with tracer.span("first_pass"):
                t0 = time.perf_counter()
                res = wl.run_pass(first=True)
                first_pass_s = time.perf_counter() - t0
            self.checked(wl.check, res, False)
            with tracer.span("warmup"):
                while time.perf_counter() - t0 < WARMUP_S:
                    self.checked(wl.check, wl.run_pass(first=False), False)

            walls = []
            gc0 = stats.gc_ms()
            loop0 = time.perf_counter()
            while not walls or time.perf_counter() - loop0 < a.seconds:
                t0 = time.perf_counter()
                res = wl.run_pass(first=False)
                walls.append(time.perf_counter() - t0)
                self.checked(wl.check, res, False)
            gc_s = (stats.gc_ms() - gc0) / 1000.0 / len(walls)
            self.checked(wl.check, res, True)
            self.checked(wl.finish)

            wall_s = statistics.median(walls)
            e2e = {
                "setup_s": statistics.median(setup),
                "wall_s": wall_s,
                "turns_per_s": wl.n_turns / wall_s,
            }
            extra = {
                "workload": a.workload, "seed": a.seed, "size": a.size, "master": MASTER,
                "shuffle_partitions": SHUFFLE_PARTITIONS, "confs": confs,
                "setup_s_all": setup, "pass_walls": walls, "inputs_reused": reused,
                "inputs_generate_s": generate_s, "input_turns": wl.n_turns,
            }
            print(f"perfbench: first pass {first_pass_s:.3f} s, passes {walls}, "
                  f"set-ups {setup}, inputs {generate_s:.3f} s (reused: {reused})", file=sys.stderr)
            if not a.trace:
                return self.result(e2e, "end_to_end")

            traced_wall = wl.traced_pass(tracer, stats)["wall_s"]
            layer = {
                "conf.get_spark_s": statistics.median(get_spark_s),
                "session.first_pass_s": first_pass_s,
                "spark.gc_s": gc_s,
                "registry.build_s": statistics.median(registry_s),
                "inputs.generate_s": generate_s,
                "trace.overhead_s": traced_wall - wall_s,
            }
            with tracer.span("layers"):
                layer.update(wl.layers(tracer, stats))
            for probe_name in LAYER_PROBES.get(a.workload, ()):
                with tracer.span(f"probe.{probe_name}"):
                    t0 = time.perf_counter()
                    probe_cls = WORKLOADS[probe_name]
                    probe_dir, _ = inputs.ensure_inputs(STATE / "cache", a.size, a.seed, probe_cls.group)
                    layer["inputs.generate_s"] += time.perf_counter() - t0
                    layer.update(self.probe(probe_cls, spark, probe_dir, tmp, tracer, stats))
            layer["jvm.peak_rss_mb"] = stats.peak_rss_mb()
            names = [m["name"] for m in self.spec["per_layer"]]
            unknown = sorted(set(layer) - set(names))
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            extra.update({
                "untraced_wall_s": wall_s, "traced_wall_s": traced_wall,
                "tracing_overhead_s": traced_wall - wall_s, "end_to_end": e2e,
                "not_applicable": {n: f"layer not exercised by {a.workload}" for n in names if n not in layer},
            })
            metrics = {n: layer.get(n, 0.0) for n in names}
            trace_path = STATE / "traces" / f"{tracer.run_id}.json"
            tracer.dump(trace_path, {**extra, "per_layer": metrics})
            print(f"trace written to {trace_path}", file=sys.stderr)
            return self.result(metrics, "per_layer")
        finally:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(tmp, ignore_errors=True)

    def probe(self, cls, spark, input_dir: Path, tmp: Path, tracer, stats) -> dict:
        """Another workload's own layers, measured in this session: its
        first pass, traced and checked, then its layer probes. Its layer
        times are therefore those of fresh plans (first action)."""
        wl = cls(spark, tmp / "work" / cls.name, self.args.seed)
        wl.register(spark, input_dir)
        wl.traced_pass(tracer, stats, first=True)
        self.checked(wl.check, wl.last_result, True)
        self.checked(wl.finish)
        return {k: v for k, v in wl.layers(tracer, stats).items() if k.startswith(cls.own_layers)}

    def result(self, values: dict, kind: str) -> dict:
        units = {m["name"]: m["unit"] for m in self.spec[kind]}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
        }


def run_all(args) -> int:
    """Every workload in its own process; prints the end-to-end metrics by
    name and unit, and exits non-zero if any check failed."""
    results, ok = {}, True
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"{w}: no result (exit {proc.returncode})", file=sys.stderr)
            ok = False
            continue
        ok &= proc.returncode == 0 and res["correct"]
        results[w] = res
        for name, m in res["metrics"].items():
            print(f"{w:14s} {name:40s} {m['value']:14.4f} {m['unit']}")
    summary = {
        "correct": ok and len(results) == len(WORKLOAD_NAMES),
        "attempted": sum(r["attempted"] for r in results.values()) or 1,
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{n}": m for w, r in results.items() for n, m in r["metrics"].items()},
    }
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    spec_path = ROOT / "BENCHMARK.json"
    sys.path.insert(0, str(ROOT))
    try:
        import fte  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import fte from {ROOT}: {e}", file=sys.stderr)
        return 2
    run = Run(args, json.loads(spec_path.read_text()))
    result = run.execute()
    for err in run.errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
