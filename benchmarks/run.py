"""Benchmark entry point.

    python3 benchmarks/run.py --workload live_window --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is a fresh process: it starts the
library's Spark session, builds its inputs from the seed, makes a warm-up
pass (counted in ``setup_s``, not in the measured metrics), then measures
for ``--seconds`` and checks the outputs. The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- BENCHMARK.json's end-to-end metrics, or with
``--trace 1`` its per-layer metrics (spans are then written to
``.bench_work/<run>/trace.json``). ``--size smoke`` runs the same code path
on tiny inputs in seconds.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402

WORKLOADS = ("live_window", "spread_drain", "corpus_curation")


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    size: str
    work: str
    tracer: harness.Tracer
    res: harness.Result
    setup_end: float = 0.0

    def mark_setup_done(self) -> None:
        """Called just before the first timed operation."""
        self.setup_end = time.time()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        import wallaroo_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2

    import importlib

    module = importlib.import_module(args.workload)
    work = harness.prepare_workdir(args.workload, args.seed, args.trace)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    tracer = harness.Tracer(enabled=bool(args.trace), run_id=run_id)
    res = harness.Result()
    t0 = time.time()
    spark = harness.start_session(f"bench-{args.workload}", max(1, (os.cpu_count() or 2) - 1))
    res.per_layer["setup.session_s"] = time.time() - t0
    ctx = Context(spark, args.seed, args.seconds, args.size, work, tracer, res)
    try:
        module.run(ctx)
    finally:
        ctx.spark.stop()
        harness.shutdown_jvm()
    res.end_to_end["setup_s"] = ctx.setup_end - PROCESS_START
    if tracer.enabled:
        for name in [m["name"] for m in spec["end_to_end"]]:
            res.per_layer[f"traced.{name}"] = res.end_to_end[name]
        res.per_layer["trace.spans"] = len(tracer.spans)
        tracer.write(os.path.join(work, "trace.json"))
    harness.clear_workdir(work)
    for note in res.notes:
        print(f"note: {note}", file=sys.stderr)
    registered = args.workload in [w["name"] for w in spec["workloads"]]
    print(harness.result_line(res, spec["per_layer" if args.trace else "end_to_end"], bool(args.trace), not registered))
    return 0


if __name__ == "__main__":
    sys.exit(main())
