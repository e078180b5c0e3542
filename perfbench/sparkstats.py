"""Spans, counters and Spark status-store readings for the traced run.

Nothing here reaches into ``fte``: spans wrap the benchmark's own calls
into each layer, and counters come from Spark's status stores after
each tagged action (job group -> jobs -> stages -> tasks, and the SQL
plan graph of the executions the action started).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError


def noop(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters,
    written to one JSON file by ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counters[name] = value

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                {"run_id": self.run_id, "spans": self.spans, "counters": self.counters, **extra},
                indent=1,
                default=str,
            )
        )


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(text: str) -> float:
    """Parse a SQL metric string: '41,828', '1.7 MiB', or a per-task
    'total (min, med, max ...)' line followed by the totals."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.replace(",", "").split(" ")
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


class SparkStats:
    """Reads what Spark recorded about one tagged action."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    def gc_ms(self) -> int:
        return int(self._app.executorList(True).apply(0).totalGCTime())

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (local mode: the only JVM)."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        return 0.0

    def action(self, label: str, fn):
        """Run ``fn()`` under its own job group; return (result, seconds, stats)."""
        self._n += 1
        group = f"{label}#{self._n}"
        n_exec = self._sql.executionsList().size()
        gc0 = self.gc_ms()
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        stats = self._collect(group, n_exec)
        stats["gc_s"] = (self.gc_ms() - gc0) / 1000.0
        return result, dt, stats

    def _collect(self, group: str, n_exec: int) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = {
            "jobs": len(jobs), "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "task_skew": 1.0,
        }
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._app.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["tasks"] += int(s.numCompleteTasks())
                out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
                out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
                out["task_skew"] = max(out["task_skew"], self._skew(sid, int(s.attemptId())))
        out.update(self._plan_counts(n_exec))
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        tasks = self._app.taskList(stage_id, attempt, 100000)
        d = [tasks.apply(i).duration() for i in range(tasks.size())]
        d = [float(x.get()) for x in d if x.isDefined()]
        if len(d) < 2 or statistics.median(d) <= 0:
            return 1.0
        return max(d) / statistics.median(d)

    def _plan_counts(self, n_exec: int) -> dict:
        """Exchanges, per-table scan counts and the widest aggregate over
        the SQL executions the action started (final adaptive plans)."""
        execs = self._sql.executionsList()
        exchanges = agg_exprs = 0
        scans: dict[str, int] = {}
        rows: dict[str, int] = {}
        scan_bytes = 0
        for i in range(n_exec, execs.size()):
            eid = execs.apply(i).executionId()
            metrics = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name == "Exchange":
                    exchanges += 1
                elif name.endswith("Aggregate"):
                    agg_exprs = max(agg_exprs, _agg_functions(node.desc()))
                elif name.startswith("Scan "):
                    table = _table_of(node.desc())
                    scans[table] = scans.get(table, 0) + 1
                    ms = node.metrics()
                    for m in range(ms.size()):
                        acc = ms.apply(m)
                        if not metrics.contains(acc.accumulatorId()):
                            continue
                        value = _metric_value(metrics.apply(acc.accumulatorId()))
                        if acc.name() == "number of output rows":
                            rows[table] = rows.get(table, 0) + int(value)
                        elif acc.name() == "size of files read":
                            scan_bytes += int(value)
        return {"exchanges": exchanges, "scans_per_table": scans, "scan_rows_by_table": rows,
                "scan_bytes": scan_bytes, "agg_exprs": agg_exprs}


def _agg_functions(desc: str) -> int:
    """Number of aggregate functions in an aggregate node's description
    ('HashAggregate(keys=[], functions=[sum(a), sum((a * b)), ... 352 more fields])')."""
    start = desc.find("functions=[")
    if start < 0:
        return 0
    depth, items, item = 0, [], ""
    for ch in desc[start + len("functions=["):]:
        if depth == 0 and ch in ",]":
            items.append(item.strip())
            item = ""
            if ch == "]":
                break
            continue
        depth += (ch in "([") - (ch in ")]")
        item += ch
    items = [i for i in items if i]
    if items and items[-1].startswith("... ") and items[-1].endswith(" more fields"):
        return len(items) - 1 + int(items[-1].split()[1])
    return len(items)


def _table_of(desc: str) -> str:
    """Table name from a scan node's description
    ('... Location: InMemoryFileIndex(1 paths)[file:/x/events.parquet], ...')."""
    loc = desc.split("Location:", 1)[-1]
    if "[" in loc:
        loc = loc.split("[", 1)[1].split("]", 1)[0].split(",")[0]
    name = loc.rstrip("/").split("/")[-1]
    return name[: -len(".parquet")] if name.endswith(".parquet") else name
