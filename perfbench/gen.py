"""Seeded input generator for the benchmark.

Writes the ten tables graft reads (`graft.Tables.names`) plus the `cdc`
change-batch table of the pipeline workload, one directory per table in
Spark's layout (`<name>.parquet/part-00000.parquet` + `_SUCCESS`), with
the schema and value domains of the star-schema fixtures the registry
queries were written against:

- the star schema keeps foreign-key integrity (every FK is drawn from
  the referenced key range) and the fixture's join fan-out (about four
  lineitems per order, uniform over parts and suppliers);
- documents draw from the fixture's 31-word vocabulary, and a fixed
  share of them are planted near-duplicates of an earlier document
  (one appended `dup` token, so their 3-shingle Jaccard with the
  original is at least 0.8). The planted groups are the ground truth
  of the dedup chain (`near_dup_groups`);
- embeddings are 64-d float32, clustered by label.

The same seed and sizes give byte-identical files; another seed gives
different values with the same row counts. A directory is reused only
when every table's `_SUCCESS` marker exists and `meta.json` records the
same seed, sizes and generator version.
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings", "cdc"]

# Row counts per workload. The star schema keeps the fixture's ratios
# (orders = lineitem / 4, customer = lineitem / 40, part = lineitem / 30,
# supplier = lineitem / 600, events = lineitem / 6).
SIZES = {
    "relational": {"lineitem": 60_000, "documents": 500, "embeddings": 500},
    "pipeline": {"lineitem": 20_000, "documents": 1_000, "embeddings": 500},
}
CDC_BATCHES = 3
DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "wheel"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64
LABELS = 10


def generator_version() -> str:
    """Content hash of this file: a generator change invalidates reuse."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def star_counts(lineitem: int) -> dict:
    return {"region": 5, "nation": 25, "customer": max(lineitem // 40, 10),
            "supplier": max(lineitem // 600, 10),
            "part": max(lineitem // 30, 10), "orders": max(lineitem // 4, 10),
            "lineitem": lineitem, "events": max(lineitem // 6, 10)}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n):
    """Midnight timestamps (µs) uniform over [start, end]."""
    span = (end - start).days
    epoch = (start - dt.date(1970, 1, 1)).days
    days = rng.integers(0, span + 1, n) + epoch
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _str(fmt, xs):
    return pa.array([fmt % x for x in xs], type=pa.string())


def gen_tables(seed: int, sizes: dict) -> dict:
    """All tables as pyarrow Tables; pure function of (seed, sizes)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    c = star_counts(sizes["lineitem"])
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": _str("NATION_%d", range(25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": _str("Customer#%09d", range(n)),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n)].tolist())})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": _str("Supplier#%09d", range(n)),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64)})
    n = c["part"]
    adj = np.array(ADJECTIVES)[rng.integers(0, len(ADJECTIVES), n)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": _str("Brand#%d", rng.integers(1, 26, n)),
        "p_type": pa.array(
            np.array(PART_TYPES)[rng.integers(0, 6, n)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(
            900.0 + (np.arange(n) % 1000) / 10.0, f64)})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), i64),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n), f64),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n)].tolist())})
    n = c["lineitem"]
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64"), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": pa.array(flags.tolist()),
        "l_linestatus": pa.array(status.tolist()),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n)})
    n = c["events"]
    start_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) \
        // dt.timedelta(microseconds=1)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // 66, 10), n), i64),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2), f64),
        "props": _str('{"k": %d}', rng.integers(0, 100, n))})
    t["documents"], groups = gen_documents(rng, sizes["documents"])
    t["embeddings"] = gen_embeddings(rng, sizes["embeddings"])
    t["cdc"] = gen_cdc(rng, c["orders"])
    return t, groups


def gen_documents(rng, n):
    """Documents plus planted near-duplicate groups (original first)."""
    texts, origin = [], {}
    vocab = np.array(VOCAB)
    n_dup = int(n * DUP_SHARE)
    dup_ids = set(rng.choice(np.arange(1, n), n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_ids:
            src = int(rng.integers(0, i))
            src = origin.get(src, src)
            origin[i] = src
            texts.append(texts[src] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    groups = {}
    for d, s in origin.items():
        groups.setdefault(s, [s]).append(d)
    lang = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": _str("src%d", np.arange(n) % 20),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    return table, sorted(sorted(g) for g in groups.values())


def gen_embeddings(rng, n):
    centers = rng.normal(0.0, 1.0, (LABELS, EMBED_DIM))
    label = rng.integers(0, LABELS, n)
    v = centers[label] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
        pa.array(v.reshape(-1), pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                     "embedding": emb,
                     "label": pa.array(label, pa.int32())})


def gen_cdc(rng, n_orders):
    """CDC batches over the orders keys: each batch updates a random
    tenth of the keys and inserts a few new ones. Versions are unique
    per key and shuffled across batches, so batches arrive out of order
    and the highest version must win."""
    per = max(n_orders // 10, 1)
    fresh = max(n_orders // 100, 1)
    keys, batch = [], []
    for b in range(CDC_BATCHES):
        k = rng.choice(n_orders, per, replace=False)
        new = n_orders + b * fresh + np.arange(fresh)
        keys.append(np.concatenate([k, new]))
        batch.append(np.full(per + fresh, b))
    keys, batch = np.concatenate(keys), np.concatenate(batch)
    version = rng.permutation(len(keys)) + 1
    return pa.table({
        "batch": pa.array(batch, pa.int32()),
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, len(keys)),
                                 pa.float64()),
        "version": pa.array(version, pa.int64())})


def write_table(table: pa.Table, path: str):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   compression="snappy")
    open(os.path.join(path, "_SUCCESS"), "w").close()


def meta_for(seed: int, workload: str) -> dict:
    return {"seed": seed, "workload": workload, "sizes": SIZES[workload],
            "generator": generator_version()}


def is_complete(out: str, meta: dict) -> bool:
    try:
        with open(os.path.join(out, "meta.json")) as f:
            have = json.load(f)
    except (OSError, ValueError):
        return False
    return all(have.get(k) == v for k, v in meta.items()) and all(
        os.path.exists(os.path.join(out, f"{t}.parquet", "_SUCCESS"))
        for t in TABLES)


def ensure(out: str, seed: int, workload: str) -> dict:
    """Generate into `out` unless a complete matching copy is there.
    Returns the recorded meta plus this call's generation time."""
    meta = meta_for(seed, workload)
    t0 = time.monotonic()
    reused = is_complete(out, meta)
    if not reused:
        if os.path.exists(out):
            shutil.rmtree(out)
        os.makedirs(out)
        tables, groups = gen_tables(seed, SIZES[workload])
        for name, tab in tables.items():
            write_table(tab, os.path.join(out, f"{name}.parquet"))
        rows = {k: v.num_rows for k, v in tables.items()}
        size = sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(out) for f in fs)
        # meta.json last: its presence with matching fields is the
        # completion record.
        with open(os.path.join(out, "meta.json"), "w") as f:
            json.dump(dict(meta, rows=rows, bytes=size,
                           near_dup_groups=groups), f)
    with open(os.path.join(out, "meta.json")) as f:
        rec = json.load(f)
    rec["gen_s"] = time.monotonic() - t0
    rec["reused"] = reused
    return rec
