"""Seeded table generator for the `queries` workload.

Writes events, part, documents and embeddings parquet files with the
schemas the query registry reads (TESTDATA.md) and the value profile of
the repository's sf0.1 test data: its 31-word document vocabulary, 10 to
100 words a document, language shares, 5% near-duplicate documents
(an earlier text plus `dup`) and 0.16% exact copies, 20 sources, five
uniform event types over 30 days, part names and prices, and unit
vectors in ten clusters. Row counts are sf0.1's times SCALE.
The same seed always gives byte-identical tables.

    python3 gen_tables.py <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 test data. At SCALE 1 one timed pass takes
# ~10 s on 4 cores and a traced run outlives its time limit, so the
# tables are a fifth of that.
SF01 = {"events": 100000, "users": 1500, "parts": 20000, "docs": 5000, "vecs": 2000}
SCALE = 0.2
N_EVENTS, N_USERS, N_PARTS, N_DOCS, N_VECS = (
    int(SF01[k] * SCALE) for k in ("events", "users", "parts", "docs", "vecs"))
DIM = 64
N_CLUSTERS = 10

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pin"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]


def events(rng):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, N_EVENTS)]),
    })


def part(rng):
    keys = np.arange(N_PARTS, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in
                            zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, N_PARTS)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, N_PARTS)]),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS).astype(np.int32), pa.int32()),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    })


def planted(rng, n, *shares):
    """Disjoint sets of exactly round(n * share) seeded row positions after
    the first 10, one per share, so every seed plants the same amount of
    work."""
    counts = [int(round(n * s)) for s in shares]
    picks = rng.choice(np.arange(10, n), sum(counts), replace=False).tolist()
    return [set(picks[sum(counts[:i]):sum(counts[:i + 1])]) for i in range(len(counts))]


def documents(rng):
    """Random texts over a 30-word vocabulary; 5% are planted
    near-duplicates (an earlier text plus the word `dup`) and 0.16% exact
    copies, so the dedup family has work to find."""
    near, exact = planted(rng, N_DOCS, 0.05, 0.0016)
    texts = []
    for i in range(N_DOCS):
        if i in near:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i in exact:
            texts.append(texts[rng.integers(0, i)])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    """Unit vectors around ten cluster centres; 5% are planted
    near-copies of an earlier vector."""
    centres = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (N_VECS, DIM))
    copies, = planted(rng, N_VECS, 0.05)
    for i in range(10, N_VECS):
        if i in copies:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def main(seed, out):
    os.makedirs(out, exist_ok=True)
    for i, (name, fn) in enumerate([("events", events), ("part", part),
                                    ("documents", documents),
                                    ("embeddings", embeddings)]):
        rng = np.random.default_rng([seed, i])
        pq.write_table(fn(rng), os.path.join(out, name + ".parquet"))


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
