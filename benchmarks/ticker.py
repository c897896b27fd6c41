"""Open-loop load generator for the ``live_window`` workload.

A separate single-threaded process: at every tick it creates that tick's
events and publishes them as one parquet file into the watched directory
(written aside, then renamed in, so the source never sees a partial file).
The schedule is fixed in advance and never waits for the engine. One JSON
line per tick records when the file was due, when it was published and the
newest creation stamp in it.

    python3 ticker.py OUT_DIR STAGE_DIR LOG SEED RATE TICK_S TICKS START_S N_KEYS JITTER_S
"""

import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen


def main(argv: list[str]) -> None:
    out, stage, log = argv[0], argv[1], argv[2]
    seed, rate, tick_s, ticks = int(argv[3]), float(argv[4]), float(argv[5]), int(argv[6])
    start, n_keys, jitter = float(argv[7]), int(argv[8]), float(argv[9])
    rng = np.random.default_rng(seed)
    per_tick = int(rate * tick_s)
    # first-call costs of the writer are paid before the schedule starts
    warm = os.path.join(stage, "warm.parquet")
    pq.write_table(gen.tick_events(np.random.default_rng(0), per_tick, 0, tick_s, n_keys, jitter, start), warm)
    os.unlink(warm)
    with open(log, "w") as f:
        for k in range(ticks):
            due = start + (k + 1) * tick_s
            time.sleep(max(0.0, due - time.time()))
            t = gen.tick_events(rng, per_tick, k, tick_s, n_keys, jitter, start)
            name = f"tick-{k:05d}.parquet"
            pq.write_table(t, os.path.join(stage, name))
            os.rename(os.path.join(stage, name), os.path.join(out, name))
            published = time.time()
            newest = float(t.column("created_s")[-1].as_py())
            f.write(json.dumps({"tick": k, "due": due, "published": published,
                                "newest": newest, "events": per_tick}) + "\n")
            f.flush()


if __name__ == "__main__":
    main(sys.argv[1:])
