"""``spread_drain``: the market-spread app draining a fixed backlog.

Market-data and order events, keyed by symbol, through Python per-symbol
state (``Pipeline.key_by("symbol").to_state``) that keeps the latest quote
and rejects orders placed while the spread is wide, into
TransactionalParquetSink. Each pass drains the whole backlog as a few large
``availableNow`` batches on a fresh checkpoint, so the time goes to the
per-event Python state work rather than to per-batch overhead; the state
store and sink are the same as ``live_window``'s.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from harness import median, parse_ts, scheduler_counts, start_session
from streams import TimedSink, committed_batches, executed, progress_layers, trace_batches

SIZES = {
    "full": {"events": 120_000, "files": 12, "files_per_trigger": 4, "symbols": 200},
    "smoke": {"events": 6_000, "files": 3, "files_per_trigger": 1, "symbols": 20},
}
SCHEMA = "symbol string, ts timestamp, seq long, kind string, bid double, offer double, order_id long"


def _market_spread():
    """(state fn, initial state, pack, unpack), built as local functions so
    they are shipped to the Python workers by value."""

    def on_event(row: dict, state: dict) -> list[dict] | None:
        if row["kind"] == "nbbo":
            state["has"], state["bid"], state["offer"] = True, row["bid"], row["offer"]
            return None
        if state["has"]:
            b, o = state["bid"], state["offer"]
            if (o - b) >= 0.05 * ((o + b) / 2.0):
                return [{"symbol": row["symbol"], "order_id": row["order_id"]}]
        return None

    def initial() -> dict:
        return {"has": False, "bid": 0.0, "offer": 0.0}

    def pack(s: dict) -> tuple:
        return (s["has"], s["bid"], s["offer"])

    def unpack(t: tuple) -> dict:
        return {"has": t[0], "bid": t[1], "offer": t[2]}

    return on_event, initial, pack, unpack


def write_backlog(tables: list, directory: str) -> None:
    os.makedirs(directory)
    for i, t in enumerate(tables):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1e9 + i, 1e9 + i))  # file source orders by mtime


def drain(spark, src: str, out: str, files_per_trigger: int):
    """One pass: start the query on a fresh checkpoint and wait until every
    batch is committed. Returns (query, sink, wall seconds)."""
    from wallaroo_spark.api import Pipeline
    from wallaroo_spark.sinks import TransactionalParquetSink

    fn, initial, pack, unpack = _market_spread()
    t0 = time.time()
    sdf = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", files_per_trigger).parquet(src)
    p = (
        Pipeline.source_df(sdf, ts_col="ts")
        .key_by("symbol")
        .to_state(
            fn, initial, "symbol string, order_id long",
            state_schema="has boolean, bid double, offer double", pack=pack, unpack=unpack,
        )
    )
    sink = TimedSink(TransactionalParquetSink(os.path.join(out, "sink")))
    q = p.to_sink_foreach_batch(sink, os.path.join(out, "chk"))
    q.awaitTermination()
    return q, sink, time.time() - t0


def rejected(sink: TimedSink) -> list[int]:
    ids: list[int] = []
    for t in committed_batches(sink).values():
        if t is not None:
            ids.extend(t.column("order_id").to_pylist())
    return ids


def run(ctx) -> None:
    spark, res, tr, work = ctx.spark, ctx.res, ctx.tracer, ctx.work
    size = SIZES[ctx.size]
    n, fpt = size["events"], size["files_per_trigger"]

    t0 = time.time()
    tables = gen.spread_backlog(ctx.seed, n, size["files"], size["symbols"])
    src = os.path.join(work, "in")
    write_backlog(tables, src)
    truth = gen.spread_rejections(tables)
    warm_src = os.path.join(work, "warm_in")
    write_backlog(gen.spread_backlog(ctx.seed + 7919, n // 4, 3, size["symbols"]), warm_src)
    res.per_layer["setup.inputs_s"] = time.time() - t0

    # ---- warm-up (counted in setup): one pass over a smaller backlog
    t0 = time.time()
    drain(spark, warm_src, os.path.join(work, "warm"), 1)
    res.per_layer["setup.warmup_s"] = time.time() - t0

    # ---- measured: whole passes until the run time is used up
    ctx.mark_setup_done()
    eps, runs, sinks, groups, service = [], [], [], [], []
    t_end = time.time() + ctx.seconds
    i = 0
    while i == 0 or time.time() < t_end:
        q, sink, wall = drain(spark, src, os.path.join(work, f"pass{i}"), fpt)
        res.attempted += 1
        err = q.exception()
        got = rejected(sink)
        if err is not None or len(got) != len(set(got)) or set(got) != truth:
            res.failed += 1
            res.fail(f"pass {i}: rejections differ from the replay ({len(got)} vs {len(truth)}) {err or ''}")
        eps.append(n / wall)
        pass_runs = executed(q.recentProgress)
        runs.extend(pass_runs)
        sinks.append(sink)
        # batch service time: trigger start to the sink's return
        service += [(sink.calls[p.batchId][1] - parse_ts(p.timestamp)) * 1000.0
                    for p in pass_runs if p.numInputRows > 0 and p.batchId in sink.calls]
        groups.append(str(q.runId))
        if tr.enabled:
            pid = tr.add("spread.pass", time.time() - wall, time.time(), events=n)
            trace_batches(tr, pass_runs, sink, pid)
        i += 1

    data = [p for p in runs if p.numInputRows > 0]
    res.end_to_end["throughput_per_s"] = median(eps)
    res.end_to_end["latency_p50_ms"] = median(service)
    res.per_layer.update(scheduler_counts(spark.sparkContext, groups))
    res.per_layer.update(progress_layers(runs, [(e - s) * 1000.0 for sk in sinks for s, e in sk.calls.values()]))
    add_ms = [p.durationMs["addBatch"] for p in data]
    res.per_layer.update(
        {
            "keyed_state.add_batch_ms": median(add_ms),
            "keyed_state.us_per_event": sum(add_ms) * 1000.0 / sum(p.numInputRows for p in data),
            "keyed_state.rows_out": len(truth),
            "spread.passes": len(eps),
        }
    )
    if tr.enabled:
        # one pass on a single core, for a parallel-speedup reading; the
        # host is shared, so only the ratio to the all-core rate is kept
        spark.stop()
        ctx.spark = spark = start_session("bench-spread-1core", 1)
        drain(spark, warm_src, os.path.join(work, "warm1"), 1)
        q, sink, wall = drain(spark, src, os.path.join(work, "pass1core"), fpt)
        res.attempted += 1
        if set(rejected(sink)) != truth:
            res.failed += 1
            res.fail("single-core pass: rejections differ from the replay")
        res.per_layer["keyed_state.eps_1core"] = (n / wall) / median(eps)
