"""Seeded input generator and reference results for the benchmark.

Every table is synthesised from the seed alone (numpy PCG64), with the
columns of the library's sf0.1 test schema: the TPC-H-style tables (nation,
customer, part, orders, lineitem) plus `events`, `documents` and
`embeddings`. The same seed always gives byte-identical inputs.

Skew is part of the input on purpose:
  - `orders.o_custkey` and `lineitem.l_partkey` draw from Zipf-like
    distributions over a seed-permuted key order, so the hot join keys move
    with the seed;
  - `cc_links` chains customers together, so connected components needs
    several label-propagation rounds instead of one;
  - `documents` carries exact copies and word-level near-duplicates of
    earlier documents, so minhash dedup finds pairs to report;
  - `stream_events` holds the keys (Zipf over users) and bounded event-time
    jitter that the streaming generator replays at a fixed rate.

References: each batch pipeline's expected result is computed here, once per
seed and outside the timed window, by DuckDB over the generated parquet. The
SQL is the library catalog's own oracle (`Queries.oracle`, dumped by the
build into `oracle_sql.json`) for the cell the pipeline mirrors; connected
components over the chained graph has no catalog cell and is computed by
label propagation in numpy instead.
"""
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 schema, and the share of them generated: small
# enough that a run (three set-ups and a measured pass) fits the benchmark's
# time budget, so both batch workloads are bound more by per-job overhead
# than by data volume.
BASE = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000}
SCALE = 0.1
VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge "
         "data customer join vector the of and to in is for on with as by "
         "this that from be are was were it at or an which not have has "
         "model token corpus page text web site news shop").split()
LANGS = ["en", "es", "fr", "de", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
US_PER_DAY = 86400 * 1000000
EPOCH_1995 = 788918400 * 1000000      # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1704067200 * 1000000     # 2024-01-01T00:00:00Z in µs

# Pipelines of each batch workload and the catalog cell each one mirrors.
# `None` marks a reference computed here rather than by catalog SQL.
CELLS = {
    "batch_relational": {
        "pricing_summary": "q_tpch1",
        "customer_revenue_topk": "q_tpch10",
        "copurchase_pairs": "q_copurchase",
        "window_sliding": "q_window_sliding",
        "window_session": "q_window_session",
        "partitioned_sink": "q1_agg",
    },
    "batch_iterative": {
        "connected_components": None,
        "collatz_iterate": "q_iterate",
        "kmeans": "q_kmeans",
        "minhash_dedup": "q_dedup_minhash",
    },
    "event_stream": {},
}
STREAM_POOL = 400000


def zipf_choice(rng, n, size, s):
    """`size` draws from 0..n-1 with P(rank r) ∝ 1/(r+1)^s over a
    seed-permuted rank order, so which keys are hot depends on the seed."""
    p = 1.0 / np.arange(1, n + 1) ** s
    p /= p.sum()
    ranks = rng.choice(n, size=size, p=p)
    return rng.permutation(n)[ranks]


def money(x):
    return np.round(x, 2)


def ts_col(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def tpch(rng, scale):
    n_cust = int(BASE["customer"] * scale)
    n_supp = int(BASE["supplier"] * scale)
    n_part = int(BASE["part"] * scale)
    n_ord = int(BASE["orders"] * scale)
    t = {}
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    adj = np.array(["large", "hot", "small", "polished", "burnished", "brushed"])
    noun = np.array(["ring", "bolt", "gear", "plate", "valve", "spring"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL"])
    price = money(900.0 + (np.arange(n_part) % 1000) * 0.1 + rng.uniform(0, 100, n_part))
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": zipf_choice(rng, n_cust, n_ord, 0.6).astype("int64"),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng.uniform(1000, 400000, n_ord)),
        "o_orderdate": ts_col(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(okey)
    first = np.cumsum(lines) - lines
    linenumber = np.arange(n_li) - np.repeat(first, lines) + 1
    partkey = zipf_choice(rng, n_part, n_li, 0.8).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(qty * price[partkey]),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_col(np.repeat(odate, lines)
                             + rng.integers(1, 122, n_li) * US_PER_DAY)})
    return t


def events(rng, n=100000, users=1500):
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts_col(ts),
        "user_id": zipf_choice(rng, users, n, 0.7).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[
            rng.choice(5, n, p=[0.5, 0.3, 0.08, 0.07, 0.05])],
        "value": money(rng.exponential(40.0, n)),
        "props": [f'{{"k": {v}}}' for v in k]})


def documents(rng, n=500):
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.03:          # exact copy of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i > 50 and r < 0.10:        # near-duplicate: a few words changed
            w = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(w), max(1, len(w) // 25), replace=False):
                w[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(w))
        elif r < 0.18:                   # low-quality page: one word repeated
            texts.append(" ".join([vocab[rng.integers(0, len(vocab))]]
                                  * int(rng.integers(5, 40))))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(8, 100)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=[0.5, 0.2, 0.1, 0.1, 0.1])],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})


def embeddings(rng, n=400, dim=64, k=10):
    centers = rng.normal(0.0, 0.15, (k, dim))
    label = rng.integers(0, k, n)
    vec = (centers[label] + rng.normal(0.0, 0.05, (n, dim))).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def cc_links(rng, n_cust, chains=100, length=3):
    """Customer→customer edges forming `chains` disjoint paths of `length`
    customers, so label propagation needs several rounds to converge."""
    picks = rng.choice(n_cust, chains * length, replace=False).reshape(chains, length)
    return pa.table({"src": picks[:, :-1].ravel().astype("int64"),
                     "dst": picks[:, 1:].ravel().astype("int64")})


def stream_events(rng, n=STREAM_POOL, users=500, jitter_us=150000):
    """Event pool the streaming generator replays in order: key skew over
    `users` and an event-time jitter (µs) bounded well inside the watermark."""
    return pa.table({
        "user_id": zipf_choice(rng, users, n, 1.0).astype("int64"),
        "jitter_us": rng.integers(0, jitter_us + 1, n).astype("int64")})


def tables_for(workload, seed):
    # one generator per table family, so tuning one table's size never
    # shifts another table's values for the same seed
    ss = np.random.SeedSequence([seed, 20261017])
    r_tpch, r_ev, r_doc, r_emb, r_cc, r_st = [np.random.Generator(np.random.PCG64(s))
                                              for s in ss.spawn(6)]
    if workload == "event_stream":
        return {"stream_events": stream_events(r_st)}
    t = tpch(r_tpch, SCALE)
    if workload == "batch_relational":
        keep = ["nation", "customer", "orders", "lineitem"]
        out = {k: t[k] for k in keep}
        out["events"] = events(r_ev)
        return out
    out = {k: t[k] for k in ["nation", "customer", "orders", "part"]}
    out["documents"] = documents(r_doc)
    out["embeddings"] = embeddings(r_emb)
    out["cc_links"] = cc_links(r_cc, t["customer"].num_rows)
    return out


def components_reference(con):
    """(node, component) of the customer–order graph plus `cc_links`, the
    component labelled by its smallest node id."""
    e = con.sql("""SELECT o_custkey AS s, o_orderkey + 10000000 AS d FROM orders
                   UNION ALL SELECT src, dst FROM cc_links""").fetchnumpy()
    src, dst = e["s"].astype("int64"), e["d"].astype("int64")
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[:len(src)], inv[len(src):]
    label = np.arange(len(nodes))
    while True:
        m = np.minimum(label[a], label[b])
        nxt = label.copy()
        np.minimum.at(nxt, a, m)
        np.minimum.at(nxt, b, m)
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            break
        label = nxt
    return pa.table({"node": nodes, "component": nodes[label]})


def prepare(workload, seed, root, oracle_sql):
    """Write the workload's inputs and references under root/seed-N/workload
    (once per seed) and return that directory."""
    out = os.path.join(root, f"seed-{seed}", workload)
    done = os.path.join(out, "READY")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    ref = os.path.join(out, "ref")
    os.makedirs(data)
    os.makedirs(ref)
    tables = tables_for(workload, seed)
    with open(os.path.join(data, "rows.json"), "w") as f:
        json.dump({name: tbl.num_rows for name, tbl in tables.items()}, f)
    for name, tbl in tables.items():
        if name == "stream_events":   # replayed by the JVM generator as raw pairs
            np.stack([tbl["user_id"].to_numpy(), tbl["jitter_us"].to_numpy()], axis=1) \
                .astype("<i8").tofile(os.path.join(data, "stream_events.bin"))
            continue
        pq.write_table(tbl, os.path.join(data, f"{name}.parquet"))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for name in tables:
        if name != "stream_events":
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, name)}.parquet')")
    for pipeline, cell in CELLS[workload].items():
        if cell is None:
            res = components_reference(con)
        else:
            res = con.sql(oracle_sql[cell]).arrow()
        pq.write_table(res, os.path.join(ref, f"{pipeline}.parquet"))
    con.close()
    with open(done, "w") as f:
        json.dump({"seed": seed, "workload": workload}, f)
    return out
