"""Input generation for the benchmark.

`base_tables` builds the fixture-shaped corpus (the TPC-H-like star tables
plus the documents/embeddings/events tables of the LLM-pipeline tier) from
a fixed generator seed, so every run sees the same content. `stage` then
writes one run's inputs from the run's `--seed`: every table with its rows
permuted and its row-group layout chosen by the seed, plus the
index-maintenance split (history, micro-batch, BM25 probes and the
forget list). Results of the star and LLM workloads do not depend on row
order, so their expected outputs are the same for every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# Corpus sizes. `full` is the measured size; `smoke` is the small size the
# benchmark's own tests run.
SCALES = {
    "full": {"orders": 3000, "customers": 300, "suppliers": 20, "parts": 400,
             "events": 10000, "docs": 1000, "vecs": 500},
    "smoke": {"orders": 1500, "customers": 150, "suppliers": 10, "parts": 200,
              "events": 1000, "docs": 300, "vecs": 200},
}

US_PER_DAY = 86_400_000_000


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, n_days, size) * US_PER_DAY).astype("datetime64[us]")


def base_tables(scale):
    """The fixed corpus: {table name: pyarrow.Table}."""
    s = SCALES[scale]
    rng = np.random.default_rng(CORPUS_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no = s["customers"], s["suppliers"], s["parts"], s["orders"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE",
                                    "FURNITURE", "BUILDING"], nc)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "bolt", "gear", "plate", "widget", "rod", "anvil", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days("1995-01-01", 2404, rng, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    # one to seven lines per order, numbered from 1, so (order, line) is a key
    per = rng.integers(1, 8, no)
    nl = int(per.sum())
    okey = np.repeat(np.arange(no), per)
    lnum = np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1
    flags = rng.integers(0, 6, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["O", "F"])[flags // 3],
        "l_shipdate": _days("1995-01-02", 2498, rng, nl)})
    ne = s["events"]
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ts0 + rng.integers(0, 30 * US_PER_DAY, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(ne // 67, 1), ne), pa.int64()),
        "event_type": rng.choice(["error", "signup", "purchase", "view", "click"], ne),
        "value": np.round(rng.uniform(0.0, 500.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = s["docs"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = s["vecs"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def _write(table, path, rng):
    n = max(table.num_rows, 1)
    groups = int(rng.choice([1, 2, 4]))
    pq.write_table(table, path, row_group_size=max(-(-n // groups), 1))


def stage(tables, out_dir, seed, batch_size, forget):
    """Write one run's inputs under `out_dir` from `seed`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table.take(rng.permutation(table.num_rows)),
               os.path.join(out_dir, f"{name}.parquet"), rng)
    docs = tables["documents"]
    im = os.path.join(out_dir, "im")
    os.makedirs(im, exist_ok=True)
    ids = rng.permutation(docs.num_rows)
    history = np.sort(ids[batch_size:])
    _write(docs.take(history), os.path.join(im, "history.parquet"), rng)
    # the micro-batch arrives in doc-id order, as a crawl appends
    _write(docs.take(np.sort(ids[:batch_size])), os.path.join(im, "batch.parquet"), rng)
    pq.write_table(pa.table({"doc_id": pa.array(
        np.sort(rng.choice(ids, forget, replace=False)), pa.int64())}),
        os.path.join(im, "forget.parquet"))
    # probe 1 is served after the fold, probe 0 after the erasure
    probes = [" ".join(rng.choice(VOCAB + ["dup"], int(rng.integers(2, 4)), replace=False))
              for _ in range(2)]
    pq.write_table(pa.table({"batch": pa.array(range(2), pa.int32()),
                             "q_text": probes}), os.path.join(im, "probes.parquet"))
