"""Shared plumbing for the benchmark workloads: run directory, Spark session
lifetime, statistics, span tracing and the result line.

Everything a run writes stays under ``.bench_work/`` in the current
directory (the checkout), including Spark's scratch space and temp files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def prepare_workdir(workload: str, seed: int, trace: int) -> str:
    """Fresh per-run directory; points every temp location of this process
    and of the JVM it will start into it, before Spark is imported."""
    root = os.path.abspath(".bench_work")
    work = os.path.join(root, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    import tempfile

    tempfile.tempdir = tmp
    return work


def clear_workdir(work: str) -> None:
    """Remove a finished run's inputs, outputs and scratch; keep its trace."""
    for name in os.listdir(work):
        if name != "trace.json":
            path = os.path.join(work, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.unlink(path)


def start_session(name: str, cpus: int):
    """The library's own session factory; the benchmark sets no engine conf."""
    from wallaroo_spark import get_spark

    spark = get_spark(name, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100]); inf values sort last."""
    if not values:
        return math.nan
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


# ---------------------------------------------------------------------------
# Spark's own reports
# ---------------------------------------------------------------------------


def parse_ts(iso: str) -> float:
    """StreamingQueryProgress.timestamp ('2026-01-01T00:00:00.123Z') to epoch s."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def scheduler_counts(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages that ran, tasks run and tasks failed for the given job
    groups, from ``statusTracker`` (streaming queries run their batches,
    including the foreachBatch writes, in the group named by their runId)."""
    tr = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for g in groups:
        for jid in tr.getJobIdsForGroup(g):
            info = tr.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tr.getStageInfo(sid)
                if st is None:
                    continue
                ran = st.numCompletedTasks + st.numFailedTasks
                stages += ran > 0
                tasks += ran
                failed += st.numFailedTasks
    return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks, "spark.tasks_failed": failed}


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written out once at
    exit. Disabled, every call is a no-op, so untraced runs pay nothing."""

    enabled: bool
    run_id: str
    spans: list[dict] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append(
            {"id": len(self.spans), "run": self.run_id, "name": name, "start": start,
             "end": end, "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield -1
            return
        sid = self.add(name, time.time(), math.nan, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: span time minus the part of it
        covered by its children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        """The spans, plus self seconds summed per span name."""
        if self.enabled:
            with open(path, "w") as f:
                json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def fail(self, why: str) -> None:
        self.correct = False
        self.notes.append(why)


def result_line(res: Result, specs: list[dict], trace: bool, extra: bool) -> str:
    """The last stdout line. ``specs`` is BENCHMARK.json's ``end_to_end``
    list for untraced runs and its ``per_layer`` list for traced runs; a
    layer the workload bypasses reads 0. With ``extra``, metrics measured
    but not listed follow (unit "-")."""
    picked = res.per_layer if trace else res.end_to_end
    metrics = {m["name"]: {"value": float(picked.get(m["name"], 0.0)), "unit": m["unit"]} for m in specs}
    if extra:
        metrics.update({k: {"value": float(v), "unit": "-"} for k, v in picked.items() if k not in metrics})
    return json.dumps(
        {"correct": res.correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
    )
