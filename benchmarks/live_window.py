"""``live_window``: an open-loop event stream through a keyed event-time window.

file-stream source -> with_watermark -> key_by -> to_tumbling (count, sum,
max creation stamp) -> foreachBatch into TransactionalParquetSink, on the
default trigger. A separate generator process (``ticker.py``) publishes one
file per tick on a fixed schedule. Each file carries little per-event work,
so what a batch costs is the engine's fixed per-batch work: offset and
commit logs, planning, state-store commit and the sink's two-phase commit.

The rate and tick are chosen so the engine idles between ticks; a run whose
backlog builds up or whose busy share passes ``BUSY_HEADROOM`` is counted
as failed rather than reported as latency.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import numpy as np

import gen
from harness import median, parse_ts, percentile, scheduler_counts
from streams import TimedSink, committed_batches, executed, progress_layers, trace_batches

WINDOW, WINDOW_S = "10 seconds", 10
DELAY = "5 seconds"  # allowed lateness; the generator's jitter stays below it
JITTER_S = 4.0
N_KEYS = 500
BUSY_HEADROOM = 0.6  # share of the run the engine may be busy
MAX_BACKLOG_FILES = 1  # files still uncommitted when the next one lands
SIZES = {
    "full": {"rate": 4000, "tick_s": 3.0, "warm_live": 5},
    "smoke": {"rate": 400, "tick_s": 4.0, "warm_live": 2},
}
SCHEMA = "key string, ts timestamp, qty long, created_s double"


def start_query(spark, src: str, out: str, chk: str):
    from pyspark.sql import functions as F

    from wallaroo_spark.api import Pipeline
    from wallaroo_spark.sinks import TransactionalParquetSink

    p = (
        Pipeline.source_df(spark.readStream.schema(SCHEMA).parquet(src), ts_col="ts")
        .with_watermark(DELAY)
        .key_by("key")
        .to_tumbling(
            WINDOW,
            [F.count("*").alias("n"), F.sum("qty").alias("total"), F.max("created_s").alias("created_max")],
        )
    )
    sink = TimedSink(TransactionalParquetSink(out))
    q = p.df.writeStream.foreachBatch(sink).outputMode("update").option("checkpointLocation", chk).start()
    return q, sink


def run(ctx) -> None:
    spark, res, tr, work = ctx.spark, ctx.res, ctx.tracer, ctx.work
    size = SIZES[ctx.size]
    rate, tick_s = size["rate"], size["tick_s"]
    per_tick = int(rate * tick_s)

    # ---- warm-up (counted in setup): the live query itself runs the
    # generator's first ``warm_live`` ticks; only later ticks are measured
    src, stage = os.path.join(work, "in"), os.path.join(work, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    t0 = time.time()
    q, sink = start_query(spark, src, os.path.join(work, "out"), os.path.join(work, "chk"))
    warm_ticks = size["warm_live"]
    ticks = warm_ticks + max(2, int(ctx.seconds / tick_s))
    log = os.path.join(work, "ticks.jsonl")
    start = time.time() + 1.5  # the generator imports numpy and pyarrow first
    here = os.path.dirname(os.path.abspath(__file__))
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "ticker.py"), src, stage, log, str(ctx.seed), str(rate),
         str(tick_s), str(ticks), repr(start), str(N_KEYS), str(JITTER_S)],
        cwd=here,
    )
    t_meas = start + warm_ticks * tick_s
    try:
        # ---- measured: from the start of the first tick after the warm ones
        time.sleep(max(0.0, t_meas - time.time()))
        ctx.mark_setup_done()
        res.per_layer["setup.warmup_s"] = time.time() - t0
        gen_proc.wait(timeout=(ticks + 2) * tick_s + 30)
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
    total = ticks * per_tick
    deadline = time.time() + 4 * tick_s + 10
    while time.time() < deadline:
        if q.exception() is not None:
            break
        done = sum(p.numInputRows for p in q.recentProgress if "addBatch" in p.durationMs)
        if done >= total:
            break
        time.sleep(0.05)
    while q.status["isTriggerActive"] and time.time() < deadline:  # let a no-data batch finish
        time.sleep(0.05)
    drain_end = time.time()
    progress = q.recentProgress
    err = q.exception()
    q.stop()
    groups = [str(q.runId)]
    res.per_layer.update(scheduler_counts(spark.sparkContext, groups))

    with open(log) as f:
        tick_log = [json.loads(line) for line in f]
    res.attempted += len(tick_log)
    if err is not None or len(tick_log) != ticks:
        res.failed += ticks - len(tick_log) + (err is not None)
        res.fail(f"live query or generator failed: {err}")

    # ---- per-batch latency, one sample per committed data batch
    batches = committed_batches(sink)
    newest = {b: float(t.column("created_max").to_numpy().max()) for b, t in batches.items() if t is not None and t.num_rows}
    committed = {b: newest[b] for b in newest if b in sink.calls}
    measured = {b for b in committed if committed[b] >= t_meas}  # holds a measured tick
    samples = {b: (sink.calls[b][1] - newest[b]) * 1000.0 for b in measured}
    commit_of = {}  # tick -> wall time its file's batch returned from the sink
    for t in tick_log:
        covering = [sink.calls[b][1] for b in committed if newest[b] >= t["newest"]]
        commit_of[t["tick"]] = min(covering) if covering else math.inf
    uncommitted = [t for t in tick_log if commit_of[t["tick"]] == math.inf]
    if uncommitted:
        # still pending when the drain timed out: late by at least this much
        for t in uncommitted:
            samples[-1 - t["tick"]] = (drain_end - t["newest"]) * 1000.0
        res.failed += len(uncommitted)
        res.fail(f"{len(uncommitted)} tick files never committed")
    backlog = [  # measured ticks only: the first warm ticks meet a cold engine
        sum(1 for j in tick_log[:i] if commit_of[j["tick"]] > t["published"])
        for i, t in enumerate(tick_log) if t["tick"] >= warm_ticks
    ]

    # ---- Spark's own reports
    first = min(measured, default=0)
    runs = [p for p in executed(progress) if p.batchId >= first]
    t_first = min((t["published"] for t in tick_log if t["tick"] >= warm_ticks), default=t_meas)
    window_s = (max(c[1] for c in sink.calls.values()) if sink.calls else drain_end) - t_first
    busy_s = sum(p.durationMs["triggerExecution"] for p in runs) / 1000.0
    busy_share = busy_s / window_s
    res.attempted += 1  # the run's open-loop validity
    if max(backlog, default=0) > MAX_BACKLOG_FILES or busy_share > BUSY_HEADROOM:
        res.failed += 1  # the outputs may still be right: not an output-check failure
        res.notes.append(f"open loop invalid: backlog {max(backlog)} files, busy share {busy_share:.2f}")

    # ---- output check: final (key, window) count and sum vs the generator
    ref_rng = np.random.default_rng(ctx.seed)
    ref = gen.window_totals(
        [gen.tick_events(ref_rng, per_tick, k, tick_s, N_KEYS, JITTER_S, 0.0) for k in range(ticks)], WINDOW_S
    )
    final: dict[tuple[str, int], tuple[int, int]] = {}
    for _, t in sorted(batches.items()):
        if t is None:
            continue
        d = t.to_pydict()
        starts = t.column("window_start").to_numpy().astype("datetime64[s]").astype(np.int64)
        for key, ws, n, tot in zip(d["key"], starts.tolist(), d["n"], d["total"]):
            final[(key, ws)] = (n, tot)
    res.attempted += 1
    if final != ref:
        res.failed += 1
        res.fail(f"window totals differ from the generator: {len(final)} vs {len(ref)} (key, window) rows")

    lat = list(samples.values())
    res.end_to_end["latency_p50_ms"] = median(lat)
    res.end_to_end["throughput_per_s"] = sum(p.numInputRows for p in runs) / busy_s
    res.per_layer.update(progress_layers(runs, [(e - s) * 1000.0 for b, (s, e) in sink.calls.items() if b >= first]))
    res.per_layer.update(
        {
            "latency_p90_ms": percentile(lat, 90),
            "latency.samples": len(lat),
            "gen.late_ms": max((t["published"] - t["due"]) * 1000.0 for t in tick_log),
            "sources.backlog_files": max(backlog, default=0),
            "runtime.busy_share": busy_share,
        }
    )
    if tr.enabled:
        for t in tick_log:
            tr.add("gen.tick", t["due"], t["published"], tick=t["tick"])
        trace_batches(tr, runs, sink)
        # latency of the median data batch = publish lag + pick-up wait +
        # engine time from trigger start to the sink's return
        start_of = {p.batchId: parse_ts(p.timestamp) for p in runs}
        split = []
        for b in samples:
            if b in start_of:
                last_pub = max(t["published"] for t in tick_log if t["newest"] <= newest[b])
                split.append((last_pub - newest[b], start_of[b] - last_pub, sink.calls[b][1] - start_of[b]))
        if split:
            mid = sorted(split, key=sum)[len(split) // 2]
            res.per_layer["trace.publish_ms"] = mid[0] * 1000.0
            res.per_layer["sources.pickup_ms"] = mid[1] * 1000.0
            res.per_layer["trace.engine_ms"] = mid[2] * 1000.0
            res.per_layer["trace.accounted_ms"] = sum(mid) * 1000.0
