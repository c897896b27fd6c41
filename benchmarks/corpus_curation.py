"""``corpus_curation``: a training-data curation pass over a planted corpus.

A trimmed ``examples/training_data_pipeline.py``: ``text.quality_score`` and
``text.c4_gopher_filters`` gate -> ``dedup.exact_dedup`` ->
``dedup.duplicate_clusters`` (MinHash-LSH near-dup clusters) ->
``similarity.semdedup`` -> ``ManifestTable.append``. It is the only
workload that runs the corpus operators and the manifest sink; it bypasses
the streaming runtime entirely. Each stage's output is materialized
(``localCheckpoint``) so every stage is one timed call in traced and
untraced runs alike.

The survivors are checked against the planted truth: every low-quality doc
and every exact duplicate gone, near-dup pair recall and semantic-dup
recall at or above their floors, and no unplanted document lost.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from harness import Tracer, median, scheduler_counts

SIZES = {"full": {"docs": 1000, "warm_docs": 100}, "smoke": {"docs": 160, "warm_docs": 80}}
QUALITY_MIN = 0.5
LSH_THRESHOLD = 0.5
SEM_TAU = 0.9
# near-dup (base, variant) pairs found in one cluster; 4x4 LSH banding finds
# a pair at Jaccard 0.81-0.89 (two tokens replaced) with probability 0.89-0.98
PAIR_RECALL_FLOOR = 0.85
SEM_RECALL_FLOOR = 0.9  # planted semantic duplicates dropped
STAGES = ("text", "dedup.exact", "dedup.lsh", "similarity.semdedup", "manifest.commit")


def write_inputs(seed: int, n_docs: int, directory: str) -> dict:
    docs, embs, truth = gen.corpus(seed, n_docs)
    os.makedirs(directory)
    pq.write_table(docs, os.path.join(directory, "docs.parquet"))
    pq.write_table(embs, os.path.join(directory, "emb.parquet"))
    return truth


def curate(spark, src: str, out: str, n_clusters: int, tr, group: str) -> dict:
    """One pass from the input read to the committed manifest snapshot.
    Returns stage timings and counts; stage spans go to ``tr``."""
    from pyspark.sql import functions as F

    from wallaroo_spark.operators import dedup, similarity, text
    from wallaroo_spark.sinks.manifest import ManifestTable

    spark.sparkContext.setJobGroup(group, "corpus curation pass")
    out_stats: dict = {}
    t_pass = time.time()
    with tr.span("corpus.pass") as pass_id:

        def stage(name: str, fn):
            t0 = time.time()
            with tr.span(name, pass_id):
                df = fn().localCheckpoint(eager=True)
            out_stats[name] = time.time() - t0
            return df

        docs = spark.read.parquet(os.path.join(src, "docs.parquet"))

        def text_gate():
            good = text.quality_score(docs).filter(F.col("quality") >= QUALITY_MIN).select("doc_id")
            kept = docs.join(good, "doc_id", "left_semi")
            ok = text.c4_gopher_filters(kept).filter(F.col("keep")).select("doc_id")
            return kept.join(ok, "doc_id", "left_semi")

        kept = text_kept = stage("text", text_gate)
        kept = stage("dedup.exact", lambda: dedup.exact_dedup(kept, ["text"], "doc_id"))
        clusters = stage("dedup.lsh", lambda: dedup.duplicate_clusters(kept, threshold=LSH_THRESHOLD))
        near = clusters.filter(F.col("component_id") != F.col("doc_id")).select("doc_id")
        kept = kept.join(F.broadcast(near), "doc_id", "left_anti")

        def sem():
            emb = spark.read.parquet(os.path.join(src, "emb.parquet")).join(
                kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
            )
            return similarity.semdedup(emb, k=n_clusters, iters=2, tau=SEM_TAU)

        sem_out = stage("similarity.semdedup", sem)
        sem_drop = sem_out.filter(F.col("kept") == 0).select(F.col("vec_id").alias("doc_id"))
        final = kept.join(F.broadcast(sem_drop), "doc_id", "left_anti")

        t0 = time.time()
        with tr.span("manifest.commit", pass_id):
            table = ManifestTable(out)
            table.append(final)
        out_stats["manifest.commit"] = time.time() - t0
    out_stats["wall"] = time.time() - t_pass
    spark.sparkContext.setJobGroup(f"{group}-check", "read back for the output check")
    files = table.snapshot_files()
    out_stats["manifest.files"] = len(files)
    out_stats["manifest.bytes"] = sum(os.path.getsize(f) for f in files)
    out_stats["files"] = files
    out_stats["clusters"] = {r["doc_id"]: r["component_id"] for r in clusters.collect()}
    out_stats["sem_dropped"] = {r["doc_id"] for r in sem_drop.collect()}
    out_stats["text_kept"] = text_kept.count()
    return out_stats


def check(stats: dict, truth: dict) -> list[str]:
    """Survivors against the planted truth; returns the failed checks."""
    kind, src = truth["kind"], truth["src"]
    survivors = set()
    for f in stats["files"]:
        survivors.update(pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist())
    bad = []
    if any(kind[d] == "low" for d in survivors):
        bad.append("a low-quality doc survived")
    if any(kind[d] == "exact" for d in survivors):
        bad.append("an exact duplicate survived")
    lost = [d for d, k in enumerate(kind) if k == "base" and d not in survivors]
    if lost:
        bad.append(f"{len(lost)} unplanted docs lost")
    cl = stats["clusters"]
    near = [d for d, k in enumerate(kind) if k == "near"]
    found = sum(1 for d in near if d in cl and src[d] in cl and cl[d] == cl[src[d]])
    stats["pair_recall"] = found / len(near) if near else 1.0
    if stats["pair_recall"] < PAIR_RECALL_FLOOR:
        bad.append(f"near-dup pair recall {stats['pair_recall']:.3f} below {PAIR_RECALL_FLOOR}")
    sem = [d for d, k in enumerate(kind) if k == "sem"]
    stats["sem_recall"] = sum(1 for d in sem if d in stats["sem_dropped"]) / len(sem) if sem else 1.0
    if stats["sem_recall"] < SEM_RECALL_FLOOR:
        bad.append(f"semantic-dup recall {stats['sem_recall']:.3f} below {SEM_RECALL_FLOOR}")
    return bad


def run(ctx) -> None:
    spark, res, tr, work = ctx.spark, ctx.res, ctx.tracer, ctx.work
    n = SIZES[ctx.size]["docs"]

    t0 = time.time()
    src = os.path.join(work, "in")
    truth = write_inputs(ctx.seed, n, src)
    warm_src = os.path.join(work, "warm_in")
    warm_truth = write_inputs(ctx.seed + 7919, SIZES[ctx.size]["warm_docs"], warm_src)
    res.per_layer["setup.inputs_s"] = time.time() - t0

    # ---- warm-up (counted in setup): one pass over a smaller corpus
    t0 = time.time()
    curate(spark, warm_src, os.path.join(work, "warm_out"), warm_truth["n_clusters"], Tracer(False, "warm"), "warm")
    res.per_layer["setup.warmup_s"] = time.time() - t0

    # ---- measured: whole passes, at least two and more while they fit in
    # the run time
    ctx.mark_setup_done()
    passes = []
    t_end = time.time() + ctx.seconds
    while len(passes) < 2 or time.time() + median([p["wall"] for p in passes]) <= t_end:
        i = len(passes)
        stats = curate(spark, src, os.path.join(work, f"out{i}"), truth["n_clusters"], tr, f"pass{i}")
        res.attempted += 1
        bad = check(stats, truth)
        if bad:
            res.failed += 1
            res.fail(f"pass {i}: " + "; ".join(bad))
        passes.append(stats)

    walls = [p["wall"] for p in passes]
    res.end_to_end["throughput_per_s"] = median([n / w for w in walls])
    res.end_to_end["latency_p50_ms"] = median(walls) * 1000.0
    last = passes[-1]

    def med(key: str) -> float:
        return median([p[key] for p in passes])

    res.per_layer.update(scheduler_counts(spark.sparkContext, [f"pass{i}" for i in range(len(passes))]))
    res.per_layer.update(
        {
            "corpus.passes": len(passes),
            "text.s": med("text"),
            "text.docs_kept": last["text_kept"],
            "dedup.exact_s": med("dedup.exact"),
            "dedup.lsh_s": med("dedup.lsh"),
            "dedup.pairs": sum(1 for d, c in last["clusters"].items() if d != c),
            "dedup.pair_recall": last["pair_recall"],
            "similarity.semdedup_s": med("similarity.semdedup"),
            "similarity.dups": len(last["sem_dropped"]),
            "similarity.recall": last["sem_recall"],
            "manifest.commit_s": med("manifest.commit"),
            "manifest.files": last["manifest.files"],
            "manifest.bytes": last["manifest.bytes"],
            # stage calls cover the pass but for the input read and the joins
            # that drop each stage's rejects
            "trace.accounted_ms": median([sum(p[k] for k in STAGES) for p in passes]) * 1000.0,
        }
    )
