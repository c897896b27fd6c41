"""Seeded input generators for the benchmark workloads.

Pure numpy/pyarrow: nothing here imports Spark or ``wallaroo_spark``, so the
tick generator process (``ticker.py``) starts in milliseconds and the
reference computations in the output checks are independent of the code
under test. The same seed always yields the same inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
# substrings the C4 battery treats as boilerplate; random words must avoid them
_BANNED = ("lorem", "ipsum", "javascript", "cookie")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------------------
# live_window: one file of keyed events per generator tick
# ---------------------------------------------------------------------------

TICK_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("qty", pa.int64()),
        ("created_s", pa.float64()),
    ]
)
EVENT_EPOCH_US = 1_700_000_000 * 1_000_000  # event time of a run's first instant


def tick_events(
    rng: np.random.Generator,
    n: int,
    tick: int,
    tick_s: float,
    n_keys: int,
    jitter_s: float,
    wall_start: float,
) -> pa.Table:
    """The ``n`` events of tick number ``tick``: created uniformly during the
    tick, keys Zipf(1.1) over ``n_keys``.

    Event time runs from ``EVENT_EPOCH_US``, so the same seed gives the same
    events and windows on every run; only the creation stamp ``created_s``
    is wall-clock (``wall_start`` plus the offset). Event time trails
    creation by up to ``jitter_s``, so files arrive out of order within the
    allowed lateness and, with ``jitter_s`` below the watermark delay, no
    event is ever behind the watermark."""
    rel = np.sort(rng.uniform(tick * tick_s, (tick + 1) * tick_s, n))
    ts_us = EVENT_EPOCH_US + np.floor((rel - rng.uniform(0.0, jitter_s, n)) * 1e6).astype(np.int64)
    keys = rng.choice(n_keys, n, p=zipf_probs(n_keys, 1.1))
    return pa.table(
        {
            "key": pa.array([f"k{k:04d}" for k in keys]),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "qty": pa.array(rng.integers(1, 100, n)),
            "created_s": pa.array(wall_start + rel),
        },
        schema=TICK_SCHEMA,
    )


def window_totals(tables: list[pa.Table], window_s: int) -> dict[tuple[str, int], tuple[int, int]]:
    """Reference tumbling-window aggregate: (key, window start in epoch
    seconds) -> (count, sum of qty)."""
    out: dict[tuple[str, int], tuple[int, int]] = {}
    for t in tables:
        d = t.to_pydict()
        for key, ts, qty in zip(d["key"], t.column("ts").cast(pa.int64()).to_pylist(), d["qty"]):
            w = ts // (window_s * 1_000_000) * window_s
            c, s = out.get((key, w), (0, 0))
            out[(key, w)] = (c + 1, s + qty)
    return out


# ---------------------------------------------------------------------------
# spread_drain: market-data and order events for the market-spread app
# ---------------------------------------------------------------------------

SPREAD_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("seq", pa.int64()),
        ("kind", pa.string()),  # "nbbo" (market data) or "order"
        ("bid", pa.float64()),
        ("offer", pa.float64()),
        ("order_id", pa.int64()),
    ]
)


def spread_backlog(seed: int, n_events: int, n_files: int, n_symbols: int) -> list[pa.Table]:
    """Interleaved market-data and order events split into ``n_files``
    time-ordered files. About a third are orders; roughly one market update
    in five has a spread wide enough to reject the orders that follow it."""
    rng = np.random.default_rng(seed)
    sym = rng.choice(n_symbols, n_events, p=zipf_probs(n_symbols, 0.8))
    is_order = rng.random(n_events) < 0.35
    mid = 50.0 + 50.0 * rng.random(n_events)
    half = np.where(rng.random(n_events) < 0.2, 0.04, 0.01) * mid
    bid = np.round(mid - half, 4)
    offer = np.round(mid + half, 4)
    seq = np.arange(n_events, dtype=np.int64)
    ts_us = 1_700_000_000_000_000 + seq * 1000  # 1 ms apart, strictly ordered
    tables = []
    for part in np.array_split(np.arange(n_events), n_files):
        o = is_order[part]
        tables.append(
            pa.table(
                {
                    "symbol": pa.array([f"S{s:03d}" for s in sym[part]]),
                    "ts": pa.array(ts_us[part], pa.timestamp("us", tz="UTC")),
                    "seq": pa.array(seq[part]),
                    "kind": pa.array(np.where(o, "order", "nbbo")),
                    "bid": pa.array(np.where(o, 0.0, bid[part])),
                    "offer": pa.array(np.where(o, 0.0, offer[part])),
                    "order_id": pa.array(np.where(o, seq[part], -1)),
                },
                schema=SPREAD_SCHEMA,
            )
        )
    return tables


def spread_rejections(tables: list[pa.Table]) -> set[int]:
    """Reference replay of the market-spread rule in plain Python: per
    symbol, in event order, an order is rejected iff the symbol has a market
    snapshot and its spread is at least 5% of the mid price."""
    last: dict[str, tuple[float, float]] = {}
    rejected = set()
    for t in tables:
        d = t.to_pydict()
        for sym, kind, bid, offer, oid in zip(
            d["symbol"], d["kind"], d["bid"], d["offer"], d["order_id"]
        ):
            if kind == "nbbo":
                last[sym] = (bid, offer)
            elif sym in last:
                b, o = last[sym]
                if (o - b) >= 0.05 * ((o + b) / 2.0):
                    rejected.add(oid)
    return rejected


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted defects and duplicates
# ---------------------------------------------------------------------------

EMB_DIM = 64
DOCS_PER_CLUSTER = 125


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_LETTERS, int(rng.integers(3, 10))))
        if w in seen or w in STOPWORDS or any(b in w for b in _BANNED):
            continue
        seen.add(w)
        words.append(w)
    return words


def corpus(seed: int, n_docs: int) -> tuple[pa.Table, pa.Table, dict]:
    """(documents, embeddings, truth).

    Planted, by doc kind:
    - ``low``: too short, looped or boilerplate; the text gates must drop it;
    - ``exact``: a byte copy of a base doc's text;
    - ``near``: a base doc with two tokens replaced (word-3-gram Jaccard
      about 0.9), so it pairs with its base in the near-dup graph;
    - ``sem``: unrelated text whose embedding is a base doc's plus noise
      (cosine about 0.999), so semantic dedup must drop it.
    Every other embedding is a cluster centre plus noise (same-cluster
    cosine about 0.3), far below the semantic-dup threshold.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, 3000))
    p_vocab = zipf_probs(len(vocab), 1.05)
    n_low, n_exact, n_near, n_sem = n_docs // 16, n_docs // 12, n_docs // 12, n_docs // 16
    n_base = n_docs - n_low - n_exact - n_near - n_sem

    def fresh_tokens() -> list[str]:
        n = int(rng.integers(60, 101))
        toks = rng.choice(vocab, n, p=p_vocab)
        stop = rng.random(n) < 0.25
        toks[stop] = rng.choice(STOPWORDS, int(stop.sum()))
        return list(toks)

    base_toks = [fresh_tokens() for _ in range(n_base)]
    texts = [" ".join(t) for t in base_toks]
    kinds = ["base"] * n_base
    src = list(range(n_base))
    for i in range(n_low):
        if i % 3 == 0:
            texts.append(" ".join(rng.choice(vocab, 3)))
        elif i % 3 == 1:
            texts.append(" ".join([str(rng.choice(vocab))] * 80))
        else:
            texts.append("lorem ipsum " + " ".join(fresh_tokens()))
        kinds.append("low")
        src.append(-1)
    for _ in range(n_exact):
        b = int(rng.integers(n_base))
        texts.append(texts[b])
        kinds.append("exact")
        src.append(b)
    for _ in range(n_near):
        b = int(rng.integers(n_base))
        toks = list(base_toks[b])
        for j in rng.choice(len(toks), 2, replace=False):
            toks[j] = str(rng.choice(vocab))
        texts.append(" ".join(toks))
        kinds.append("near")
        src.append(b)
    for _ in range(n_sem):
        texts.append(" ".join(fresh_tokens()))
        kinds.append("sem")
        src.append(int(rng.integers(n_base)))

    n_clusters = max(2, n_docs // DOCS_PER_CLUSTER)
    centres = rng.normal(0.0, 0.66, (n_clusters, EMB_DIM))
    emb = centres[rng.integers(n_clusters, size=n_docs)] + rng.normal(0.0, 1.0, (n_docs, EMB_DIM))
    for i, k in enumerate(kinds):
        if k == "sem":
            emb[i] = emb[src[i]] + rng.normal(0.0, 0.05, EMB_DIM)
        elif k == "exact":
            emb[i] = emb[src[i]]

    order = rng.permutation(n_docs)  # file order is not id order
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[i] for i in order]),
        }
    )
    embs = pa.table(
        {
            "vec_id": pa.array(ids[order]),
            "embedding": pa.array(list(emb[order].astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    truth = {"kind": kinds, "src": src, "n_clusters": n_clusters}
    return docs, embs, truth
