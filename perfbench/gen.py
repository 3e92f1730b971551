"""Seeded input generator for the benchmark workloads.

Every table the program reads is written as one parquet file
`<dir>/<table>.parquet`, in the schema and value domains of the
fixture tables (FIXTURES.md):

- the change log (`events`): a key count, a Zipf key skew and a
  create/update/delete mix, over 30 days from 2024-01-01. The op of an
  event follows the fixture mapping signup -> c, error -> d, any other
  type -> u;
- the star schema (`region` .. `lineitem`): uniform draws in the fixture's
  domains, rows in a seed-driven order, written in a fixed number of row
  groups so that scan parallelism does not change with the seed;
- the corpus (`documents`, `embeddings`): token-salted replicas of a
  base corpus and hash-jittered replicas of base unit vectors, with the
  seed inside the salt and the jitter hash, and a planted near-duplicate
  set (a copy of another document's text plus one token).

The same (workload sizes, seed) always gives the same bytes of data.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15 + ["es"] * 15)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_2024 = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
                 .timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000

# Sizes per workload. `sf` scales the star schema like the fixture's
# scale factor (sf 0.1 = 600k lineitem rows). Every workload gets the same
# change log: 20k events over 1500 keys, Zipf 0.6, c/u/d 20/60/20.
CHANGE_LOG = dict(events=20_000, keys=1500, zipf=0.6, mix=(0.2, 0.6, 0.2))
SIZES = {
    "cdc_replay": dict(CHANGE_LOG, sf=0.01, docs=500, vecs=200),
    "warehouse_batch": dict(CHANGE_LOG, sf=0.02, docs=500, vecs=200),
    "corpus_prep": dict(CHANGE_LOG, sf=0.01, docs=5_000, vecs=2_000,
                        replicas=2, dup_share=0.05),
}
ROW_GROUPS = 4


def _rng(seed, table):
    digest = hashlib.sha256(f"{seed}/{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(out, name, table, rng, row_groups=ROW_GROUPS):
    """Writes `table` with its rows in a seed-driven order."""
    n = table.num_rows
    if n > 1:
        table = table.take(pa.array(rng.permutation(n)))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, -(-n // row_groups)))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, end, n):
    lo = (start - datetime.date(1970, 1, 1)).days
    hi = (end - datetime.date(1970, 1, 1)).days
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def star_schema(out, seed, sf):
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    r = _rng(seed, "region")
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), r)
    r = _rng(seed, "nation")
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), r)
    r = _rng(seed, "customer")
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]}), r)
    r = _rng(seed, "supplier")
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}), r)
    r = _rng(seed, "part")
    keys = np.arange(n_part)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [P_TYPES[t] for t in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)}), r)
    r = _rng(seed, "orders")
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1), n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]}), r)
    r = _rng(seed, "lineitem")
    flags = r.integers(0, 3, n_line)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in flags],
        "l_linestatus": [("F", "O")[s] for s in r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4), n_line)}), r)


def zipf_keys(rng, n, keys, skew):
    """`n` draws over `keys` key ids, P(rank r) ~ 1 / r^skew, with the
    rank-to-id mapping a seeded permutation (hot keys are not the low ids)."""
    weights = 1.0 / np.arange(1, keys + 1) ** skew
    ranks = rng.choice(keys, size=n, p=weights / weights.sum())
    return rng.permutation(keys)[ranks]


def change_log(out, seed, n, keys, skew, mix):
    """The CDC change log: `mix` = (create, update, delete) shares."""
    r = _rng(seed, "events")
    gaps = r.exponential(1.0, n)
    ts = EPOCH_2024 + np.floor(np.cumsum(gaps) / gaps.sum()
                               * (30 * DAY_US - 60_000_000)).astype(np.int64)
    ts = np.maximum.accumulate(ts + np.arange(n))  # strictly increasing
    op = r.choice(3, size=n, p=list(mix))
    update_types = np.array(["click", "view", "purchase"])
    types = np.where(op == 0, "signup",
                     np.where(op == 2, "error", update_types[r.integers(0, 3, n)]))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(zipf_keys(r, n, keys, skew), pa.int64()),
        "event_type": types.tolist(),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}), r)


def _salt(seed, replica):
    """Six letters from a hash of (seed, replica): salted tokens stay [a-z]+."""
    digest = hashlib.sha256(f"{seed}:{replica}".encode()).digest()
    return "".join(chr(ord("a") + b % 26) for b in digest[:6])


def corpus(out, seed, docs, vecs, replicas=1, dup_share=0.05):
    """`docs` documents and `vecs` embeddings as `replicas` salted or
    jittered copies of a base corpus; `dup_share` of each replica's
    documents repeat an earlier document's text plus the token `dup`."""
    r = _rng(seed, "documents")
    base = docs // replicas
    lengths = r.integers(10, 101, base)
    texts = [" ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), k))
             for k in lengths]
    for i in np.flatnonzero(r.random(base) < dup_share):
        texts[i] = texts[int(r.integers(0, base))] + " dup"
    ids, out_texts = [], []
    for rep in range(replicas):
        salt = _salt(seed, rep)
        prefix = salt if replicas > 1 else ""
        for i, t in enumerate(texts):
            ids.append(rep * base + i)
            out_texts.append(" ".join(prefix + w for w in t.split(" ")))
    n = len(ids)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": out_texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64())}), r)

    r = _rng(seed, "embeddings")
    vbase = vecs // replicas
    v = r.standard_normal((vbase, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = r.integers(0, 10, vbase)
    rows, vlabels = [], []
    for rep in range(replicas):
        if rep == 0:
            rows.append(v)
        else:
            jr = _rng(f"{seed}:{rep}", "jitter")
            rows.append((v + 0.05 * jr.uniform(-1, 1, v.shape)).astype(np.float32))
        vlabels.append(labels)
    mat = np.concatenate(rows)
    flat = pa.array(mat.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, mat.size + 1, 64), pa.int32()), flat)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(len(mat)), pa.int64()),
        "embedding": emb,
        "label": pa.array(np.concatenate(vlabels), pa.int32())}), r)


def generate(out, workload, seed):
    """Writes every table for `workload` at `seed` into `out`."""
    s = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    star_schema(out, seed, s["sf"])
    change_log(out, seed, s["events"], s["keys"], s["zipf"], s["mix"])
    corpus(out, seed, s["docs"], s["vecs"], s.get("replicas", 1),
           s.get("dup_share", 0.05))
