"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet. The program under test only ever sees these
files. Shapes follow the repo's synthetic testdata (events in per-user
series, a 30-word document vocabulary with a near-duplicate tail, a
TPC-H-like orders table) so every oracle-checked query runs on inputs of
the kind it was written for.

Contracts the queries rely on, kept here by construction:
  * events: (user_id, ts) is unique, and every value is non-null;
  * documents: n_chars == len(text); near-duplicates are an earlier
    document plus one extra word; exact duplicates copy an earlier text.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Part of the input cache key: bump when the generated data changes.
VERSION = 2

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(("spark window merge table column vector stream value data small join filter "
                  "big group hash customer sort order slow line part fast row the agg key query "
                  "a scan batch").split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000

# Workload input shapes. `lengths` names the series-length law.
SHAPES = {
    "featurize": {"events_rows": 240_000, "lengths": "short"},
    "featurize_long": {"events_rows": 240_000, "lengths": "long", "max_len": 2_000},
    "quantiles": {"events_rows": 40_000, "lengths": "short", "orders_rows": 30_000},
    "curation": {"documents": 5_000},
}


def _series_lengths(rng, n_rows, law, max_len=None):
    if law == "short":
        # testdata shape: mean ~66, sd ~8, clipped to [45, 99]
        lens = np.clip(np.rint(rng.normal(66.0, 8.2, n_rows // 45 + 1)), 45, 99).astype(np.int64)
    else:
        # heavy tail: Pareto(1.1) scaled to a 40-row floor, capped
        lens = np.minimum(np.rint(40.0 * (1.0 + rng.pareto(1.1, n_rows // 40 + 1))), max_len)
        lens = lens.astype(np.int64)
    cut = int(np.searchsorted(np.cumsum(lens), n_rows))
    lens = lens[:cut + 1].copy()
    lens[-1] -= int(lens.sum()) - n_rows
    if lens[-1] < 2:
        lens = lens[:-1]
    return lens


def events(rng, n_rows, law, max_len=None):
    lens = _series_lengths(rng, n_rows, law, max_len)
    n = int(lens.sum())
    users = rng.permutation(len(lens)).astype(np.int64)
    uid = np.repeat(users, lens)
    # strictly increasing within a series: sorted draws plus the row rank
    raw = rng.integers(0, SPAN_US - int(lens.max()), n)
    order = np.lexsort((raw, uid))
    uid, raw = uid[order], raw[order]
    first = np.r_[0, np.flatnonzero(uid[1:] != uid[:-1]) + 1]
    rank = np.arange(n) - np.repeat(first, np.diff(np.r_[first, n]))
    ts = T0_US + raw + rank
    glob = np.lexsort((uid, ts))
    uid, ts = uid[glob], ts[glob]
    value = np.round(rng.exponential(50.0, n), 2)
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(uid),
        "event_type": pa.array(kinds.astype(object)),
        "value": pa.array(value),
        "props": pa.array(props.astype(object)),
    })
    return table, lens


def documents(rng, n_docs):
    """5 % near-duplicates (an earlier text plus " dup"), 0.5 % exact copies."""
    words = rng.integers(10, 101, n_docs)
    texts = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), words[i])]))
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)].astype(object)),
        "source": pa.array([f"src{i % 20}" for i in doc_id]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def orders(rng, n):
    day0 = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, 2404, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)].astype(object)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array((day0 + days).astype("datetime64[us]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n)].astype(object)),
    })


def generate(workload, seed, out_dir):
    """Writes the workload's tables under `out_dir`; returns their stats."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([VERSION, seed, sorted(SHAPES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    if "events_rows" in shape:
        t, lens = events(rng, shape["events_rows"], shape["lengths"], shape.get("max_len"))
        pq.write_table(t, os.path.join(out_dir, "events.parquet"))
        q = np.percentile(lens, [0, 50, 90, 99, 100])
        stats["events"] = {"rows": t.num_rows, "series": int(len(lens)),
                           "series_len": {"min": int(q[0]), "p50": float(q[1]), "p90": float(q[2]),
                                          "p99": float(q[3]), "max": int(q[4])}}
    if "orders_rows" in shape:
        t = orders(rng, shape["orders_rows"])
        pq.write_table(t, os.path.join(out_dir, "orders.parquet"))
        stats["orders"] = {"rows": t.num_rows}
    if "documents" in shape:
        t = documents(rng, shape["documents"])
        pq.write_table(t, os.path.join(out_dir, "documents.parquet"))
        texts = t.column("text").to_pylist()
        n_chars = np.array(t.column("n_chars").to_pylist())
        stats["documents"] = {
            "rows": t.num_rows,
            "exact_dup_rate": round(1.0 - len(set(texts)) / len(texts), 4),
            "near_dup_rate": round(sum(x.endswith(" dup") for x in texts) / len(texts), 4),
            "n_chars": {"min": int(n_chars.min()), "p50": float(np.median(n_chars)),
                        "max": int(n_chars.max())}}
    return stats
