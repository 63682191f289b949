"""Seeded input generators for the graft benchmark workloads.

The same (workload, seed, steps) always writes the same files. Inputs land
as parquet under one directory, partitioned by load or batch (0 is the
bootstrap), next to a manifest.json holding the generator parameters and
the per-step facts the benchmark needs to check and rate its results.
"""
import bisect
import itertools
import json
import os
import random
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

WAREHOUSE = dict(
    orders0=12000, customers0=1200, nations=25,
    delta_share=0.03, zipf_s=1.1,
    update_share=0.6, insert_share=0.3, takedown_share=0.1,
    customer_move_share=0.01, customer_new_share=0.003,
)
CORPUS = dict(
    docs0=600, vectors0=400, dim=64, clusters=16, vocab=500,
    batch_docs=150, exact_share=0.05, near_share=0.05, near_edit_share=0.08,
    queries=2,
)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]


class Zipf:
    """Zipf(s) over ranks 0..n-1 by inverse CDF."""

    def __init__(self, n, s):
        w = [1.0 / (r + 1) ** s for r in range(n)]
        tot = sum(w)
        self.cdf = list(itertools.accumulate(x / tot for x in w))

    def draw(self, rnd):
        return min(len(self.cdf) - 1, bisect.bisect_left(self.cdf, rnd.random()))


def _write(rows, schema, path, part=None):
    table = pa.Table.from_pylist(rows, schema=schema)
    if part:
        pq.write_to_dataset(table, path, partition_cols=[part])
    else:
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


def warehouse(seed, loads, out):
    """Orders over customers and nations: a bootstrap (load 0), then `loads`
    incremental loads. Each changes delta_share of the bootstrap order
    count: updates of Zipf-ranked live keys, inserts of fresh keys, and
    takedowns disjoint from the updates; customers move nation (always to
    another one) or join. Deleted keys never return."""
    p = WAREHOUSE
    rnd = random.Random(seed)
    orders, customers, takedowns = [], [], []
    nation, segment, cust_keys = {}, {}, []

    def new_customer(load):
        k = len(cust_keys) + 1
        nation[k] = rnd.randrange(p["nations"])
        segment[k] = rnd.choice(SEGMENTS)
        cust_keys.append(k)
        customers.append(dict(c_custkey=k, c_nationkey=nation[k], c_mktsegment=segment[k], load=load))

    def price():
        return Decimal(100 + rnd.randrange(49900000)).scaleb(-2)

    live, cust_of = [], {}

    def new_order(load):
        k = len(cust_of) + 1
        # orders lean toward early customers
        c = cust_keys[min(len(cust_keys) - 1, int(len(cust_keys) * rnd.random() ** 1.3))]
        cust_of[k] = c
        live.append(k)
        orders.append(dict(o_orderkey=k, o_custkey=c, o_totalprice=price(),
                           o_status=rnd.choice(STATUSES), load=load))

    for _ in range(p["customers0"]):
        new_customer(0)
    for _ in range(p["orders0"]):
        new_order(0)
    rnd.shuffle(live)  # the hot keys are a seeded random subset
    zipf = Zipf(p["orders0"], p["zipf_s"])
    delta_rows = {}
    for load in range(1, loads + 1):
        n = round(p["orders0"] * p["delta_share"])
        moves = set()
        while len(moves) < round(p["customers0"] * p["customer_move_share"]):
            moves.add(rnd.choice(cust_keys))
        for k in sorted(moves):
            nation[k] = (nation[k] + 1 + rnd.randrange(p["nations"] - 1)) % p["nations"]
            customers.append(dict(c_custkey=k, c_nationkey=nation[k], c_mktsegment=segment[k], load=load))
        for _ in range(round(p["customers0"] * p["customer_new_share"])):
            new_customer(load)
        n_upd, n_del = round(n * p["update_share"]), round(n * p["takedown_share"])
        upd, tries = {}, 0
        while len(upd) < n_upd and tries < n_upd * 50:
            r = zipf.draw(rnd)
            if r < len(live):
                upd[live[r]] = None
            tries += 1
        while len(upd) < n_upd:
            upd[rnd.choice(live)] = None
        for k in upd:
            orders.append(dict(o_orderkey=k, o_custkey=cust_of[k], o_totalprice=price(),
                               o_status=rnd.choice(STATUSES), load=load))
        dels = set()
        while len(dels) < n_del:
            k = rnd.choice(live)
            if k not in upd:
                dels.add(k)
        takedowns += [dict(o_orderkey=k, load=load) for k in sorted(dels)]
        live[:] = [k for k in live if k not in dels]
        for _ in range(n - n_upd - n_del):
            new_order(load)
        delta_rows[load] = n
    _write(orders, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                              ("o_totalprice", pa.decimal128(38, 2)), ("o_status", pa.string()),
                              ("load", pa.int32())]), os.path.join(out, "orders"), "load")
    _write(customers, pa.schema([("c_custkey", pa.int64()), ("c_nationkey", pa.int32()),
                                 ("c_mktsegment", pa.string()), ("load", pa.int32())]),
           os.path.join(out, "customers"), "load")
    _write(takedowns, pa.schema([("o_orderkey", pa.int64()), ("load", pa.int32())]),
           os.path.join(out, "takedowns"), "load")
    _write([dict(n_nationkey=n, n_name=f"NATION_{n:02d}", n_regionkey=n % 5) for n in range(p["nations"])],
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
           os.path.join(out, "nation"))
    return dict(params=dict(p, loads=loads), delta_rows=delta_rows)


def corpus(seed, batches, out):
    """A bootstrap corpus and vector set (batch 0), then `batches` batches of
    new documents (some planted exact or near copies of bootstrap
    documents), each with one new vector per document, plus the search
    queries."""
    p = CORPUS
    rnd = random.Random(seed)
    zipf = Zipf(p["vocab"], 1.0)

    def text(n):
        return [f"w{zipf.draw(rnd):03d}" for _ in range(n)]

    boot = [text(30 + rnd.randrange(50)) for _ in range(p["docs0"])]
    docs = [dict(doc_id=i, text=" ".join(t), planted=None, batch=0) for i, t in enumerate(boot)]
    planted = {}
    n_exact = round(p["batch_docs"] * p["exact_share"])
    n_near = round(p["batch_docs"] * p["near_share"])
    for b in range(1, batches + 1):
        for j in range(p["batch_docs"]):
            if j < n_exact:
                # the whitespace differs, the normalized fingerprint does not
                t, kind = "  ".join(rnd.choice(boot)), "exact"
            elif j < n_exact + n_near:
                words = [w if rnd.random() >= p["near_edit_share"] else f"w{zipf.draw(rnd):03d}"
                         for w in rnd.choice(boot)]
                t, kind = " ".join(words), "near"
            else:
                t, kind = " ".join(text(30 + rnd.randrange(50))), None
            doc_id = len(docs)
            if kind:
                planted.setdefault(b, []).append([doc_id, kind])
            docs.append(dict(doc_id=doc_id, text=t, planted=kind, batch=b))
    centers = [[rnd.gauss(0, 1) for _ in range(p["dim"])] for _ in range(p["clusters"])]

    def vec():
        c = rnd.choice(centers)
        return [(x + 0.35 * rnd.gauss(0, 1)) / 8 for x in c]

    vecs = [dict(vec_id=i, embedding=vec(), batch=0) for i in range(p["vectors0"])]
    for b in range(1, batches + 1):
        for _ in range(p["batch_docs"]):
            vecs.append(dict(vec_id=len(vecs), embedding=vec(), batch=b))
    queries = [dict(query_id=q, qe=vec()) for q in range(p["queries"])]
    _write(docs, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("planted", pa.string()),
                            ("batch", pa.int32())]), os.path.join(out, "docs"), "batch")
    _write(vecs, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                            ("batch", pa.int32())]), os.path.join(out, "vectors"), "batch")
    _write(queries, pa.schema([("query_id", pa.int64()), ("qe", pa.list_(pa.float32()))]),
           os.path.join(out, "queries"))
    return dict(params=dict(p, batches=batches), planted=planted)


GENERATORS = {"elt_incremental": warehouse, "corpus_index": corpus}


def generate(workload, seed, steps, out):
    """Writes the inputs of `workload` for `steps` measured steps (plus the
    bootstrap) under `out`; returns the manifest."""
    manifest = dict(GENERATORS[workload](seed, steps, out), workload=workload, seed=seed)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
