"""Seeded generator of the catalog tables `catalog_iter` reads.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas and
value domains the catalog queries and their DuckDB oracles expect, at about
the size of the 0.01 scale factor. The seed decides every value; the same
seed writes the same tables.
"""
import functools
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 15000
CUSTOMERS = 1500
PARTS = 2000
SUPPLIERS = 100
EVENTS = 10000
DOCUMENTS = 500
VECTORS = 500
DIM = 64
LABELS = 10

WORDS = ("the a fast slow big small key value row column table scan join hash "
         "merge sort group agg filter window order line part customer data "
         "spark stream batch query vector").split()
# made-up words for the documents: enough of them that two unrelated
# documents' simhashes are far apart
VOCAB = [a + b for a in WORDS for b in WORDS]
ADJ = "red blue cold hot new old small large".split()
NOUN = "bolt gear rod ring plate widget anvil gizmo".split()


def _ts(days_or_us, unit):
    return pa.array(days_or_us.astype(f"datetime64[{unit}]").astype("datetime64[us]"),
                    type=pa.timestamp("us"))


# near-duplicate chains at fixed document ids: chain k starts at id
# 20 + 20k and has 2 to 5 members, each one a near duplicate (simhash
# Hamming distance <= 6) of the member before it and of no other document
CHAINS = [(20 + 20 * k, 2 + k % 4) for k in range(24)]
NEAR = 6
M31 = 2**31 - 1
SIM_A = np.array([((2654435761 * j) % M31) | 1 for j in range(1, 61)], np.int64)
SIM_B = np.array([(40503 * j * j + 7) % M31 for j in range(1, 61)], np.int64)


@functools.lru_cache(maxsize=None)
def _signs(word):
    """The word's +1/-1 vote on each of the 60 simhash bits, as
    graft.functions.TextHashes.simhash60 counts it."""
    h = int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % M31
    return ((h * SIM_A + SIM_B) % M31) % 2 * 2 - 1


def _simhash60(tokens):
    return np.sum([_signs(t) for t in tokens], axis=0) > 0


def _chain(rng, fps, n):
    """n texts, each a near duplicate of the one before it and of no other
    text, and none near a fingerprint of `fps`; None when a link finds no
    such text."""
    out = []
    for i in range(n):
        for _ in range(100):
            if i == 0:
                size = rng.integers(40, 101) if n > 1 else rng.integers(10, 101)
                tokens = [VOCAB[k] for k in rng.integers(0, len(VOCAB), size)]
            else:
                # the next link: three words of the one before replaced, at
                # distance 5 or 6 from it, so the chain does not fold back
                tokens = out[-1][0].split(" ")
                for pos in rng.integers(0, len(tokens), 3):
                    tokens[pos] = VOCAB[rng.integers(len(VOCAB))]
            fp = _simhash60(tokens)
            prior = np.vstack([fps] + [f[None] for _, f in out])
            dist = (prior != fp).sum(axis=1)
            near = np.nonzero(dist <= NEAR)[0].tolist()
            if near == ([] if i == 0 else [len(prior) - 1]) and (i == 0 or dist[-1] >= NEAR - 1):
                out.append((" ".join(tokens), fp))
                break
        else:
            return None
    return out


def _documents(rng):
    """Document texts whose simhash near-duplicate graph is the same for
    every seed: exactly the chains of CHAINS, every other document apart.
    The seed picks the words; the graph, and so the work of the
    connected-components queries, does not depend on it."""
    length = dict(CHAINS)
    fps = np.zeros((DOCUMENTS, 60), bool)
    texts = []
    while len(texts) < DOCUMENTS:
        d = len(texts)
        for _ in range(100):
            chain = _chain(rng, fps[:d], length.get(d, 1))
            if chain:
                break
        else:
            raise RuntimeError(f"no texts from document {d} on fit the near-duplicate graph")
        for text, fp in chain:
            fps[len(texts)] = fp
            texts.append(text)
    return texts


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], CUSTOMERS)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, SUPPLIERS), 2)})
    price = np.round(900 + (np.arange(PARTS) % 1000) / 10.0, 2)
    write("part", {
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(ADJ, PARTS), rng.choice(NOUN, PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, PARTS)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], PARTS),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": price})

    # orders 1995-01-01 .. 2001-08-01, one to seven lines each
    day0 = np.datetime64("1995-01-01", "D")
    odays = rng.integers(0, 2404, ORDERS)
    write("orders", {
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": _ts(day0 + odays, "D"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], ORDERS)})
    lines = rng.integers(1, 8, ORDERS)
    lok = np.repeat(np.arange(ORDERS), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n = len(lok)
    lpart = rng.integers(0, PARTS, n)
    qty = rng.integers(1, 51, n).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart] * rng.uniform(0.95, 2.33, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(day0 + odays[lok] + rng.integers(1, 122, n), "D")})

    us0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ets = np.sort(us0 + rng.integers(0, 30 * 86400 * 10**6, EVENTS))
    write("events", {
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": _ts(ets, "us"),
        "user_id": pa.array(rng.integers(0, 150, EVENTS), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], EVENTS),
        "value": np.round(rng.uniform(0.01, 490.0, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})

    texts = _documents(rng)
    write("documents", {
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], DOCUMENTS,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # unit vectors with a weak per-label centroid
    labels = rng.integers(0, LABELS, VECTORS)
    centroids = rng.normal(0, 0.14 / np.sqrt(DIM), (LABELS, DIM))
    x = centroids[labels] + rng.normal(0, 0.123, (VECTORS, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(VECTORS), pa.int64()),
        "embedding": pa.array([list(v) for v in x.astype(np.float32)], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
