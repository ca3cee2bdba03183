"""Seeded generator of the benchmark's input tables.

Writes events, documents, embeddings and lineitem as parquet files with
the schemas, value distributions and row counts per scale factor of the
repository's test tables (TESTDATA.md), so every declared query runs on
them unchanged. Differences from those tables are deliberate and small:
event timestamps are distinct at millisecond resolution, so the store's
(subject, time) upsert never merges two feed rows.

    python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAYS = 30


def events(rng, sf):
    n = max(int(1_000_000 * sf), 100)
    users = max(int(15_000 * sf), 10)
    span_ms = DAYS * 86_400_000
    ms = np.sort(rng.integers(0, span_ms - n, n))
    ms = np.maximum.accumulate(ms - np.arange(n)) + np.arange(n)  # strictly rising
    ts_us = (EPOCH_MS + ms) * 1000 + rng.integers(0, 1000, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, sf):
    n = max(int(50_000 * sf), 50)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, sf):
    n = max(int(20_000 * sf), 20)
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def lineitem(rng, sf):
    n = max(int(6_000_000 * sf), 600)
    ship0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, max(n // 4, 2), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(1, max(n // 30, 2), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, max(n // 600, 2), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship0 + rng.integers(0, 2500, n) * 86_400_000_000,
                               type=pa.timestamp("us")),
    })


TABLES = {"events": events, "documents": documents,
          "embeddings": embeddings, "lineitem": lineitem}
HOT_SUBJECTS = 20
LAST_DAY_US = (EPOCH_MS + (DAYS - 1) * 86_400_000) * 1000


def serve_inputs(out_dir, events_table, seed):
    """The serve workload's inputs besides the events: `ranks.txt`, the
    users in Zipf rank order (most read first), and `serve_feed/`, the
    events as rows of the engine table `ev` for `Engine.startIngest`,
    without the last day of the HOT_SUBJECTS top-ranked users (setup
    writes those by `set`, into the hot tail)."""
    users = int(pc.max(events_table["user_id"]).as_py()) + 1
    ranks = np.random.default_rng([seed, len(TABLES)]).permutation(users)
    with open(f"{out_dir}/ranks.txt", "w") as fh:
        fh.write("\n".join(map(str, ranks)) + "\n")
    ts = events_table["ts"].cast(pa.int64()).to_numpy()
    uid = events_table["user_id"].to_numpy()
    cold = ~(np.isin(uid, ranks[:HOT_SUBJECTS]) & (ts >= LAST_DAY_US))
    feed = pa.table({
        "t": events_table["ts"], "etype": events_table["event_type"],
        "value": events_table["value"],
        "subject": pa.array(np.char.add("u", uid.astype(str))),
    }).filter(pa.array(cold))
    os.makedirs(f"{out_dir}/serve_feed")
    pq.write_table(feed, f"{out_dir}/serve_feed/feed.parquet")


def generate(out_dir, sf, seed, names=tuple(TABLES), serve=False):
    for name in names:
        rng = np.random.default_rng([seed, sorted(TABLES).index(name)])
        table = TABLES[name](rng, sf)
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        if serve and name == "events":
            serve_inputs(out_dir, table, seed)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
