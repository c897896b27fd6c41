"""What the two streaming workloads share: the timed sink wrapper, reading
committed batches back, and turning Spark's progress reports into
per-layer metrics and spans."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from harness import Tracer, median, parse_ts

# micro-batch phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class TimedSink:
    """Wraps a foreachBatch sink and records when each call started and
    returned."""

    def __init__(self, sink):
        self.sink = sink
        self.calls: dict[int, tuple[float, float]] = {}

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        self.sink(df, batch_id)
        self.calls[batch_id] = (t0, time.time())


def committed_batches(sink: TimedSink) -> dict[int, object]:
    """batch id -> pyarrow table of the rows that batch committed (None for
    an empty batch), read back through the sink's commit log."""
    out = {}
    for path in sink.sink.committed_paths():
        bid = int(os.path.basename(path).split("=")[1].split("-")[0])
        files = [os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")]
        out[bid] = pq.ParquetDataset(files).read() if files else None
    return out


def executed(progress: list) -> list:
    """Progress reports of batches that ran (idle polls have no addBatch)."""
    return [p for p in progress if "addBatch" in p.durationMs]


def progress_layers(runs: list, sink_ms: list[float]) -> dict[str, float]:
    """Per-layer medians over the data batches of ``runs`` (executed
    progress reports) and over the sink calls ``sink_ms``, plus counts."""
    data = [p for p in runs if p.numInputRows > 0]

    def phase(name: str) -> float:
        return median([p.durationMs.get(name, 0) for p in data])

    state = [p.stateOperators[0] for p in data if p.stateOperators]
    return {
        "sources.latest_offset_ms": phase("latestOffset"),
        "sources.get_batch_ms": phase("getBatch"),
        "planning.query_planning_ms": phase("queryPlanning"),
        "runtime.add_batch_ms": phase("addBatch"),
        "runtime.trigger_ms": phase("triggerExecution"),
        "runtime.wal_commit_ms": phase("walCommit"),
        "runtime.commit_offsets_ms": phase("commitOffsets"),
        "runtime.data_batches": len(data),
        "runtime.no_data_batches": len(runs) - len(data),
        "state.commit_ms": median([s.commitTimeMs for s in state]),
        "state.rows_total": state[-1].numRowsTotal if state else 0,
        "state.memory_bytes": state[-1].memoryUsedBytes if state else 0,
        "sinks.call_ms": median(sink_ms),
        "sinks.committed": len(sink_ms),
    }


def trace_batches(tr: Tracer, runs: list, sink: TimedSink, parent: int | None = None) -> None:
    """One span per micro-batch from its progress report (trigger start plus
    the phase durations, laid end to end in execution order), with the sink
    call under addBatch."""
    for p in runs:
        t0 = parse_ts(p.timestamp)
        bid = tr.add("stream.batch", t0, t0 + p.durationMs["triggerExecution"] / 1000.0, parent, batch=p.batchId)
        cur = t0
        for ph in PHASES:
            d = p.durationMs.get(ph, 0) / 1000.0
            pid = tr.add(f"phase.{ph}", cur, cur + d, bid)
            if ph == "addBatch" and p.batchId in sink.calls:
                tr.add("sinks.call", *sink.calls[p.batchId], pid)
            cur += d
