"""Seeded corpus builder for the benchmark.

Builds the ten tables of the project's test corpus plus the tsdb-ingest
batches from one seed, using the generator functions of tools/gen_sf1.py
(imported, unchanged).
Every table gets an explicit row count: gen_sf1's own `scale` argument
is not uniform across tables.

Differences from gen_sf1's output, so the schemas match the sf0.1 test
corpus exactly:
  - events.ts is written as timestamp[us] (gen_sf1 writes ns);
  - nation and supplier, which gen_sf1 does not emit, are generated here
    with the test corpus's schema and value shapes.

The result is cached under <cache_root>/<seed>-<digest of sizes>/ and is
built outside all timing.
"""
import hashlib
import json
import os
import random
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts of the benchmark corpus. tpch, documents and embeddings are
# at sf0.01 size, events at sf0.03: the per-key floor (analysis,
# planning, scheduling) dominates at this size, as it does at sf0.1.
SIZES = {
    "events": 30_000, "users": 450,
    "documents": 500, "embeddings": 500,
    "orders": 15_000, "customers": 1_500, "parts": 2_000, "suppliers": 100,
}

# The sf0.1 test corpus's sizes, for the full correctness check.
FULL = {
    "events": 100_000, "users": 1_500,
    "documents": 5_000, "embeddings": 2_000,
    "orders": 150_000, "customers": 15_000, "parts": 20_000, "suppliers": 1_000,
}

# The self-test corpus: every table small enough for a quick check.
TINY = {
    "events": 3_000, "users": 60,
    "documents": 200, "embeddings": 200,
    "orders": 1_500, "customers": 150, "parts": 200, "suppliers": 20,
}

# tsdb-ingest loop shape: BATCHES appends, maintenance (compact, rollup
# refresh, expiry) after every EVERY-th batch, then one evolved batch.
INGEST = {
    "batches": 2, "every": 2,
    "reversions": 300, "new_rows": 300,
    "start": "2024-01-01", "days": 30,
}


def _gen_sf1():
    tools = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
    sys.path.insert(0, os.path.abspath(tools))
    try:
        import gen_sf1
    finally:
        sys.path.pop(0)
    return gen_sf1


def gen_nation():
    """The fixed 25-row nation table of the test corpus."""
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in keys], pa.string()),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def gen_supplier(n, seed):
    npr = np.random.default_rng(seed + 11)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)], pa.string()),
        "s_nationkey": pa.array(npr.integers(0, 25, n).astype(np.int32), pa.int32()),
        "s_acctbal": pa.array(np.round(npr.uniform(-1000.0, 10000.0, n), 2),
                              pa.float64()),
    })


def gen_ingest(events, n_users, seed, out):
    """The tsdb-ingest batches. Each append batch re-versions a seeded
    sample of base keys (same ts, so every version of a key lives in one
    day partition) and adds new keys with late, out-of-order timestamps
    spread over the whole period. The evolved batch carries one extra
    column, `tag`."""
    npr = np.random.default_rng(seed + 101)
    os.makedirs(out, exist_ok=True)
    base = events.append_column("version", pa.array(np.zeros(events.num_rows, np.int64)))
    pq.write_table(base, f"{out}/base.parquet")
    t0 = np.datetime64(INGEST["start"], "us").astype(np.int64)
    span = np.int64(INGEST["days"] * 24 * 3600) * np.int64(1_000_000)
    types = np.array(["click", "error", "purchase", "signup", "view"])
    n_batches = INGEST["batches"]
    for b in range(1, n_batches + 2):
        pick = npr.choice(events.num_rows, INGEST["reversions"], replace=False)
        old = events.take(pa.array(np.sort(pick)))
        n_new = INGEST["new_rows"]
        new = pa.table({
            "event_id": pa.array(10_000_000 + b * 100_000 + np.arange(n_new), pa.int64()),
            "ts": pa.array(t0 + (npr.random(n_new) * span).astype(np.int64),
                           pa.timestamp("us")),
            "user_id": pa.array(npr.integers(0, n_users, n_new), pa.int64()),
            "event_type": pa.array(types[npr.integers(0, 5, n_new)], pa.string()),
            "value": pa.array(np.round(npr.exponential(50.0, n_new), 2), pa.float64()),
            "props": pa.array([f'{{"k": {v}}}' for v in npr.integers(0, 100, n_new)],
                              pa.string()),
        })
        old = old.set_column(
            old.schema.get_field_index("value"), "value",
            pc.add(old["value"], pa.scalar(float(b) * 10.0)))
        batch = pa.concat_tables([old, new])
        batch = batch.take(pa.array(npr.permutation(batch.num_rows)))
        batch = batch.append_column(
            "version", pa.array(np.full(batch.num_rows, b, np.int64)))
        if b == n_batches + 1:
            batch = batch.append_column(
                "tag", pa.array([f"t{v % 7}" for v in range(batch.num_rows)], pa.string()))
            pq.write_table(batch, f"{out}/evolved.parquet")
        else:
            pq.write_table(batch, f"{out}/batch_{b:02d}.parquet")
    with open(f"{out}/plan.properties", "w") as f:
        for k, v in INGEST.items():
            f.write(f"{k}={v}\n")


def build(seed, out, s):
    g = _gen_sf1()
    tmp = out + ".part"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(g.gen_documents(s["documents"], random.Random(seed)), f"{tmp}/documents.parquet")
    pq.write_table(g.gen_embeddings(s["embeddings"], seed), f"{tmp}/embeddings.parquet")
    ev = g.gen_events(s["events"], s["users"], seed)
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       ev["ts"].cast(pa.timestamp("us"), safe=False))
    pq.write_table(ev, f"{tmp}/events.parquet")
    cust, orders, li = g.gen_tpch(n_orders=s["orders"], n_cust=s["customers"],
                                  n_part=s["parts"], n_supp=s["suppliers"], seed=seed)
    pq.write_table(cust, f"{tmp}/customer.parquet")
    pq.write_table(orders, f"{tmp}/orders.parquet")
    pq.write_table(li, f"{tmp}/lineitem.parquet")
    pq.write_table(g.gen_part(s["parts"], seed), f"{tmp}/part.parquet")
    pq.write_table(g.gen_region(), f"{tmp}/region.parquet")
    pq.write_table(gen_nation(), f"{tmp}/nation.parquet")
    pq.write_table(gen_supplier(s["suppliers"], seed), f"{tmp}/supplier.parquet")
    gen_ingest(ev, s["users"], seed, f"{tmp}/ingest")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(seed, cache_root, sizes=SIZES):
    """Path of the corpus for (`seed`, `sizes`), building it on first use."""
    digest = hashlib.sha256(json.dumps([sizes, INGEST], sort_keys=True).encode()).hexdigest()[:12]
    out = os.path.join(cache_root, f"{seed}-{digest}")
    if not os.path.isfile(os.path.join(out, "ingest", "plan.properties")):
        os.makedirs(cache_root, exist_ok=True)
        build(seed, out, sizes)
    return out


if __name__ == "__main__":
    print(ensure(int(sys.argv[1]), sys.argv[2]))
