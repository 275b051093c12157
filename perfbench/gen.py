#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes the ten tables graft's queries read (`region` .. `lineitem`,
`events`, `documents`, `embeddings`) as one single-row-group parquet
file each, in the schema of graft's sf fixtures (see FIXTURES.md).

`documents` and `embeddings` are generated as a base set and then
amplified: copy k > 0 shifts every id by k * base and PERTURBS the row
from the seed (documents: a few tokens dropped and a short window of
tokens shuffled; embeddings: small Gaussian noise, re-normalized). The
copies are near-duplicates, never identical, so pair joins stay
bounded instead of growing quadratically in the copy count.

The same (spec, seed) always produces the same bytes' worth of rows:
every value comes from one numpy Generator seeded with `seed`.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = np.array(["cold", "hot", "new", "old", "red", "blue", "large", "small"])
PART_NOUN = np.array(["widget", "gear", "anvil", "rod", "bolt", "plate", "ring", "gizmo"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
DIM = 64
# Relational table sizes (sf0.01) and the embedding copies' noise: the
# same in every workload, which vary only documents, embeddings and copies.
RELATIONAL = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000}
EMBEDDING_NOISE = 0.05


def load_spec(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    if workload not in spec:
        raise SystemExit(f"unknown workload {workload!r}; known: {sorted(spec)}")
    return spec[workload]["tables"]


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def relational(rng):
    """TPC-H-ish star schema with the fixture's value ranges."""
    n = RELATIONAL
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
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, npart)], " "),
                              PART_NOUN[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 200) / 10.0, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": ts_col(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    okey = np.sort(rng.integers(0, no, nl, dtype=np.int64))
    # line numbers restart per order: 1 + rank of the row inside its order
    start = np.searchsorted(okey, okey, side="left")
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": pa.array((np.arange(nl) - start + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": ts_col(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US)})
    ne = n["events"]
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts_col(ts),
        "user_id": rng.integers(0, max(ne // 70, 2), ne, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 330.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return t


def perturb_tokens(rng, toks):
    """A near-duplicate of `toks`: drop ~5% of the tokens (at least one),
    then shuffle one window of up to 4 tokens."""
    keep = rng.random(len(toks)) >= 0.05
    if keep.all():
        keep[rng.integers(0, len(toks))] = False
    out = [w for w, k in zip(toks, keep) if k]
    if len(out) > 1:
        i = int(rng.integers(0, len(out) - 1))
        j = min(len(out), i + 4)
        window = out[i:j]
        rng.shuffle(window)
        out[i:j] = window
    return out


def documents(rng, base, copies):
    """`base` docs (5% are the previous doc's text plus " dup", like the
    fixtures), then `copies - 1` perturbed copies with shifted ids."""
    texts = []
    for i in range(base):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[i - 1] + ["dup"])
        else:
            texts.append([WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))])
    all_texts = list(texts)
    for _ in range(1, copies):
        all_texts.extend(perturb_tokens(rng, toks) for toks in texts)
    n = len(all_texts)
    text = [" ".join(toks) for toks in all_texts]
    lang = LANGS[rng.choice(5, base, p=LANG_P)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.tile(lang, copies),
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})


def embeddings(rng, base, copies):
    """Unit vectors in 64 dims, then `copies - 1` noisy re-normalized copies."""
    x = rng.standard_normal((base, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    blocks = [x]
    for _ in range(1, copies):
        y = x + rng.standard_normal((base, DIM)) * EMBEDDING_NOISE
        blocks.append(y / np.linalg.norm(y, axis=1, keepdims=True))
    v = np.concatenate(blocks).astype(np.float32)
    label = rng.integers(0, 10, base, dtype=np.int32)
    n = len(v)
    emb = pa.ListArray.from_arrays(np.arange(0, n * DIM + 1, DIM, dtype=np.int32),
                                   pa.array(v.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(np.tile(label, copies))})


def generate(workload, seed, out_dir):
    spec = load_spec(workload)
    rng = np.random.default_rng(seed)
    tables = relational(rng)
    tables["documents"] = documents(rng, spec["documents"], spec["copies"])
    tables["embeddings"] = embeddings(rng, spec["embeddings"], spec["copies"])
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    stats = {}
    for name, tbl in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))
        stats[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "tables.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "tables": stats}, f, indent=1)
    os.replace(tmp, out_dir)
    return stats


def ensure(workload, seed, out_dir):
    """Generate once per (workload, seed); later calls reuse the files."""
    meta = os.path.join(out_dir, "tables.json")
    if not os.path.exists(meta):
        generate(workload, seed, out_dir)
    with open(meta) as f:
        return json.load(f)["tables"]


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(ensure(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
