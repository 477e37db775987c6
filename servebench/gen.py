"""Seeded input generator for the serving benchmark.

Every input the engine sees during a benchmark run comes from here: the
fixture-shaped corpus tables (the same ten tables and column layouts as the
engine's parquet fixtures), the dashboard request order, and the ingest
event files plus the catch-up backlog. The same seed always yields
byte-identical files (see ``fingerprint``).

Distributions follow the fixture generation: uniform keys and dates, an
exponential event value with mean 50 rounded to cents, a 30-word document
vocabulary with ~5 % near-duplicate documents (an earlier document plus a
trailing " dup"), and unit-norm 64-d embeddings around 10 label centres.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "part group big sort query fast the").split()
ADJS = "small red blue hot old new cold large".split()
NOUNS = "ring widget bolt gear gizmo anvil plate rod".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _day_range(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _write(table, path):
    # one row group, no dictionary stats drift: byte-stable across runs
    pq.write_table(table, path, compression="snappy")


def _rows(sf):
    return {
        "customer": max(150, int(15_000 * sf)),
        "supplier": max(10, int(1_000 * sf)),
        "part": max(200, int(20_000 * sf)),
        "orders": max(1_500, int(150_000 * sf)),
        "lineitem": max(6_000, int(600_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(15, int(15_000 * sf)),
    }


def events_table(rng, first_id, n, n_users, t0_us, span_us, jitter_us=0):
    """n events with ids first_id.., ts spread over [t0, t0+span) in id
    order; ``jitter_us`` > 0 perturbs each ts by up to +-jitter (arrival
    disorder, kept well inside the 10-minute stream watermark)."""
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    if jitter_us:
        ts = ts + rng.integers(-jitter_us, jitter_us + 1, n)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    v = 0.15 * centres[label] + rng.normal(scale=0.125, size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def corpus(out_dir, seed, sf):
    """Write the ten fixture-shaped tables for (seed, sf) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = _rows(sf)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                       zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                                  "MEDIUM"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts(_day_range(rng, n["orders"], "1995-01-01", "2001-08-01")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _ts(_day_range(rng, n["lineitem"], "1995-01-02", "2001-11-04"))}),
        "events": events_table(rng, 0, n["events"], n["users"], EPOCH_2024,
                               30 * US_PER_DAY),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name in TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def request_order(seed, names, n):
    """n dashboard requests: back-to-back seeded permutations of names."""
    rng = np.random.default_rng([seed, 2])
    out = []
    while len(out) < n:
        out.extend(names[i] for i in rng.permutation(len(names)))
    return out[:n]


def stream_inputs(out_dir, seed, n_files, events_per_file, backlog_events,
                  n_users=150):
    """Ingest inputs: ``staged/part-NNNNN.parquet`` event files for the live
    phase (ids and ts continue file to file, ts jittered by up to 2 min) and
    ``backlog/events.parquet`` for the catch-up phase."""
    rng = np.random.default_rng([seed, 3])
    staged = os.path.join(out_dir, "staged")
    backlog = os.path.join(out_dir, "backlog")
    os.makedirs(staged, exist_ok=True)
    # 25 s of event time per event: ~36 events per 15-minute window
    per_file_us = events_per_file * 25_000_000
    for i in range(n_files):
        t = events_table(rng, i * events_per_file, events_per_file, n_users,
                         EPOCH_2024 + i * per_file_us, per_file_us,
                         jitter_us=120_000_000)
        _write(t, os.path.join(staged, f"part-{i:05d}.parquet"))
    os.makedirs(backlog, exist_ok=True)
    _write(events_table(rng, 0, backlog_events, n_users, EPOCH_2024,
                        backlog_events * 25_000_000),
           os.path.join(backlog, "events.parquet"))
    return staged, backlog


def fingerprint(path):
    """sha256 (first 16 hex) over every file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    import sys
    d, s, f = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    corpus(d, s, f)
    print(json.dumps({"dir": d, "fingerprint": fingerprint(d)}))
