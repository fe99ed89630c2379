"""Seeded input generator for the graft benchmark.

The tables follow the schema and value domains of graft's TPC-H-shaped test data
(region, nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings). Dimension tables come from a fixed stream and are identical for every
seed, so every foreign key resolves; fact rows (orders with their lineitems, events,
documents, embeddings) are drawn from the run's seed. The corpus is replicated the
way graft.tools.DataGen does it: replica r rotates every document token through the
vocabulary by a seed-chosen shift and adds seeded noise to each embedding, so a
replica is a new shard rather than a copy. The ingest micro-batch is drawn from the
corpus by the seed too: duplicate documents together with the documents they copy,
filled up with random ones, so the micro-batch's own dedup finds pairs to merge.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = sorted("spark window merge table column vector stream value data small join filter "
               "big group hash customer sort order slow line part fast row the agg key query "
               "a scan batch".split())
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

# Row counts per workload; `docs`/`vecs` are per replica. sql_star keeps the star small
# so its per-query fixed cost stays visible; corpus_pipeline replicates the corpus x4.
SCALES = {
    "sql_star": dict(customers=750, suppliers=50, parts=500, orders=6000, events=2000,
                     docs=200, vecs=200, doc_reps=1, batch_docs=0),
    "corpus_pipeline": dict(customers=150, suppliers=10, parts=100, orders=1000, events=500,
                            docs=5000, vecs=2000, doc_reps=4, batch_docs=40),
}

EPOCH = dt.datetime(1970, 1, 1)


def _days(y, m, d):
    return (dt.datetime(y, m, d) - EPOCH).days


def _ts_days(days):
    return pa.array(days.astype("int64") * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _dims(sc):
    """Dimension tables: a fixed stream, the same for every seed."""
    rng = np.random.default_rng(20240101)
    nc, ns, npart = sc["customers"], sc["suppliers"], sc["parts"]
    region = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    nation = {"n_nationkey": pa.array(range(25), pa.int32()),
              "n_name": [f"NATION_{i}" for i in range(25)],
              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    customer = {"c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}
    supplier = {"s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns)}
    part = {"p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, npart) / 10.0, 1)}
    return region, nation, customer, supplier, part


def _orders_lineitem(rng, sc):
    no, nc, ns, npart = sc["orders"], sc["customers"], sc["suppliers"], sc["parts"]
    orders = {"o_orderkey": np.arange(no, dtype=np.int64),
              "o_custkey": rng.integers(0, nc, no),
              "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
              "o_totalprice": _money(rng, 1000.0, 500000.0, no),
              "o_orderdate": rng.integers(_days(1995, 1, 1), _days(2001, 8, 1) + 1, no),
              "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]}
    lines = rng.integers(1, 8, no)
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = {"l_orderkey": np.repeat(orders["o_orderkey"], lines),
                "l_partkey": rng.integers(0, npart, n),
                "l_suppkey": rng.integers(0, ns, n),
                "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
                "l_shipdate": rng.integers(_days(1995, 1, 2), _days(2001, 11, 4) + 1, n)}
    return orders, lineitem


def _documents(rng, n):
    """Texts, languages, and for each doc the earlier doc it copies (-1 for none)."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lengths]
    copies = np.full(n, -1)
    # 5% near-duplicates (an earlier doc plus one marker token) and a few exact copies
    for i in range(1, n):
        u = rng.random()
        if u < 0.052:
            copies[i] = int(rng.integers(0, i))
            texts[i] = texts[copies[i]] + (" dup" if u < 0.05 else "")
    langs = [LANGS[i] for i in rng.choice(5, n, p=LANG_P)]
    return texts, langs, copies


def _rotate(text, shift):
    idx = {w: i for i, w in enumerate(VOCAB)}
    return " ".join(VOCAB[(idx[w] + shift) % len(VOCAB)] if w in idx else w
                    for w in text.split(" "))


def _embeddings(rng, n):
    centroids = rng.normal(0, 1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    v = centroids[labels] + rng.normal(0, 1.5, (n, EMB_DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True), labels


def generate(workload, seed, out):
    sc = SCALES[workload]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    region, nation, customer, supplier, part = _dims(sc)
    orders, lineitem = _orders_lineitem(rng, sc)
    orders["o_orderdate"] = _ts_days(orders["o_orderdate"])
    lineitem["l_shipdate"] = _ts_days(lineitem["l_shipdate"])
    for name, cols in (("region", region), ("nation", nation), ("customer", customer),
                       ("supplier", supplier), ("part", part), ("orders", orders),
                       ("lineitem", lineitem)):
        _write(out, name, cols)

    ne = sc["events"]
    users = max(ne // 7, 10)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + 1_704_067_200_000_000
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd, dreps = sc["docs"], sc["doc_reps"]
    base_texts, base_langs, copies = _documents(rng, nd)
    # seed-chosen rotation per replica, distinct and never 0 mod |vocab|
    rots = [0] + list(rng.permutation(np.arange(1, len(VOCAB)))[:dreps - 1])
    texts = [t if r == 0 else _rotate(t, int(r)) for r in rots for t in base_texts]
    n = len(texts)
    doc_ids = np.arange(n, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": doc_ids, "text": texts, "lang": base_langs * dreps,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = sc["vecs"]
    vecs, labels = _embeddings(rng, nv)
    all_vecs = [vecs]
    for _ in range(1, dreps):
        noisy = vecs + rng.uniform(-0.25, 0.25, vecs.shape)
        all_vecs.append(noisy / np.linalg.norm(noisy, axis=1, keepdims=True))
    emb = np.concatenate(all_vecs).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(len(emb), dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, dreps), pa.int32())})

    nb = sc["batch_docs"]
    if nb:
        # a quarter of the micro-batch is copies with the docs they copy, the rest random
        dups = rng.choice(np.flatnonzero(copies >= 0), nb // 8, replace=False)
        ids = set(dups) | set(copies[dups])
        rest = rng.permutation(n)
        ids |= set(rest[~np.isin(rest, list(ids))][:nb - len(ids)])
        ids = np.sort(np.fromiter(ids, np.int64))
        _write(out, "ingest", {"doc_id": doc_ids[ids], "text": [texts[j] for j in ids]})
