"""Seeded input generators for the benchmark's Python-side inputs.

Every file is a function of (workload, seed, smoke) alone: the same
arguments give byte-identical files. The points text files of
`kmeans_paper_e2e` are made by the benchmark JVM (`PointsGen`), which
formats them far faster than Python can.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000
EPOCH_2024 = 1_704_067_200 * 1_000_000

LLOYD = {"full": dict(n=100_000, d=30, k=256, files=8),
         "smoke": dict(n=5_000, d=30, k=16, files=4)}
# row counts of the repository's testdata (TESTDATA.md) at sf0.01 (smoke: a tenth of the
# relational tables, fewer documents and vectors)
BOARD = {"full": dict(customer=1500, supplier=100, part=2000, orders=15000,
                      lineitem=60000, documents=500, embeddings=500, events=10000),
         "smoke": dict(customer=150, supplier=10, part=200, orders=1500,
                       lineitem=6000, documents=120, embeddings=200, events=1000)}
LAKE = {"full": dict(initial=40_000, append=4_000, merge=2_000, upsert=2_000,
                     delete=1_000),
        "smoke": dict(initial=2_000, append=200, merge=100, upsert=100, delete=50)}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_us):
    return pa.array(days_us, type=pa.timestamp("us"))


def lloyd(out, seed, smoke):
    """make_blobs: k centres uniform in [-10, 10]^d, unit-variance
    clusters, as `files` parquet files of one `point: list<double>`."""
    c = LLOYD["smoke" if smoke else "full"]
    rng = np.random.default_rng([seed, 2])
    centres = rng.uniform(-10.0, 10.0, (c["k"], c["d"]))
    labels = rng.integers(0, c["k"], c["n"])
    pts = centres[labels] + rng.standard_normal((c["n"], c["d"]))
    for i, part in enumerate(np.array_split(pts, c["files"])):
        offsets = pa.array(np.arange(0, part.size + 1, c["d"], dtype=np.int32))
        col = pa.ListArray.from_arrays(offsets, pa.array(part.ravel()))
        _write(pa.table({"point": col}), os.path.join(out, f"part-{i:05d}.parquet"))


def board(out, seed, smoke):
    """The board's tables with the schemas and value ranges of the
    repository's testdata (TESTDATA.md, FIXTURES.md §B)."""
    n = BOARD["smoke" if smoke else "full"]
    rng = np.random.default_rng([seed, 3])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2500, nl) * DAY_US)})
    nd = n["documents"]
    lengths = rng.integers(10, 100, nd)
    texts = [list(rng.choice(VOCAB, m)) for m in lengths]
    # one document in ten is a near duplicate of an earlier one: a copy
    # with one token replaced by "dup"
    for i in range(1, nd):
        if rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))]
            texts[i] = list(src)
            texts[i][int(rng.integers(0, len(src)))] = "dup"
    texts = [" ".join(t) for t in texts]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    ne = n["embeddings"]
    centres = rng.standard_normal((10, 64)) * (0.14 / 8.0)
    label = rng.integers(0, 10, ne)
    emb = centres[label] + rng.standard_normal((ne, 64)) * 0.125
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, emb.size + 1, 64, dtype=np.int32))
    t["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.ravel())),
        "label": pa.array(label.astype(np.int32))})
    nev = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(nev, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, nev))),
        "user_id": rng.integers(0, 150, nev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], nev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, nev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]})
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))


def lake_plan(seed, smoke):
    """The seeded operation sequence of `lake_write` and its batches:
    [(step words, batch table or None)]. Keys of appends are new; merge
    and upsert batches mix live keys with new ones; deletes take live
    keys. After every write come two reads, `latest` and `asof`."""
    s = LAKE["smoke" if smoke else "full"]
    rng = np.random.default_rng([seed, 4])
    live = set()
    next_key = 0
    steps = []
    writes = []  # step indexes of writes whose version is still readable

    def rows(keys):
        keys = np.array(sorted(keys), dtype=np.int64)
        vals = rng.integers(0, 1_000_000, keys.size).astype(np.int64)
        return pa.table({"key": keys, "val": vals,
                         "txt": [f"r{k}-{v}" for k, v in zip(keys, vals)]})

    def fresh(m):
        nonlocal next_key
        ks = range(next_key, next_key + m)
        next_key += m
        return list(ks)

    def some_live(m):
        pool = np.array(sorted(live), dtype=np.int64)
        return list(rng.choice(pool, min(m, pool.size), replace=False))

    # merge (copy-on-write) refuses live merge-on-read deletes, so it
    # runs before the first upsert/delete
    kinds = ["commit0", "merge", "upsert", "delete", "compact", "expire"]
    for kind in kinds:
        if kind == "commit0":
            keys = fresh(s["initial"])
            steps.append((["commit", f"b{len(steps)}", "0"], rows(keys)))
            live = set(keys)
        elif kind == "append":
            keys = fresh(s["append"])
            steps.append((["commit", f"b{len(steps)}", "1"], rows(keys)))
            live |= set(keys)
        elif kind in ("merge", "upsert"):
            m = s[kind]
            keys = set(some_live(m // 2)) | set(fresh(m - m // 2))
            steps.append(([kind, f"b{len(steps)}"], rows(keys)))
            live |= keys
        elif kind == "delete":
            keys = some_live(s["delete"])
            steps.append((["delete", f"b{len(steps)}"],
                          pa.table({"key": np.array(sorted(keys), dtype=np.int64)})))
            live -= set(keys)
        elif kind == "compact":
            steps.append((["compact"], None))
        elif kind == "expire":
            steps.append((["expire"], None))
            writes = writes[-1:]
        if kind != "expire":
            writes.append(len(steps) - 1)
        # after every write: the latest version, then a version as of an
        # earlier write that is still live (after `expire`, only the
        # writes made since)
        steps.append((["latest"], None))
        target = writes[int(rng.integers(0, len(writes)))]
        steps.append((["asof", str(target)], None))
    return steps


def lake(out, seed, smoke):
    steps = lake_plan(seed, smoke)
    os.makedirs(out, exist_ok=True)
    for words, table in steps:
        if table is not None:
            _write(table, os.path.join(out, f"{words[1]}.parquet"))
    with open(os.path.join(out, "plan.txt"), "w") as f:
        f.write("".join(" ".join(w) + "\n" for w, _ in steps))


def generate(workload, out, seed, smoke):
    """Writes the Python-side inputs of `workload` under `out`."""
    if workload == "lloyd_large_k":
        lloyd(os.path.join(out, "lloyd"), seed, smoke)
    elif workload == "board_read":
        board(os.path.join(out, "board"), seed, smoke)
    elif workload == "lake_write":
        lake(os.path.join(out, "lake"), seed, smoke)
