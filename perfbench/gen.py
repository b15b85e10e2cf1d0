"""Seeded input generator for the benchmark's workloads.

tpch: the program's sf0.1 reference star schema (TESTDATA.md), reproduced
row for row from its generator's draw sequence, then transformed per seed by
a bijective remap of every entity key and a new row order. Every join result
and every group's values stay those of the reference data the queries'
DuckDB oracles were validated on; the plans see new keys and a new physical
layout.

corpus_dedup and stream_state: drawn from numpy's PCG64 stream keyed by
(seed, table), with planted structure the output checks use as ground truth:
near-duplicate documents (a source text plus one token), near-duplicate
vectors (a small rotation of a source vector), exact-copy query vectors, and
re-sent events (same event_id a few seconds later).

The same seed always yields the same parquet bytes.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever generated bytes change for a given seed, so a cached input
# set from an older generator is never reused.
VERSION = 2

# Input sizes per workload; also recorded in BENCHMARK.json's workload "why".
TPCH_ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
             "part": 20000, "orders": 150000, "lineitem": 600000}
CORPUS = {"docs": 20000, "planted_docs": 200, "vectors": 8000,
          "planted_vectors": 100, "queries": 1000, "dim": 64}
# the corpus tables are written as this many part files, so their scans
# (and everything up to the first shuffle) run one task per file
CORPUS_PARTS = 8
STREAM = {"events": 24000, "users": 300, "shards": 16, "resent": 240,
          "days": 3}

# Offsets that keep planted ids disjoint from base ids.
PLANT_OFFSET = 1_000_000
QUERY_OFFSET = 2_000_000

_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "the agg key query a scan batch").split()


def _rng(seed, name):
    key = sum(ord(c) * 131 ** i for i, c in enumerate(name)) % (2 ** 32)
    return np.random.Generator(np.random.PCG64([seed, key]))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _write_parts(path, cols, parts):
    """Write `cols` as a directory of `parts` parquet files of equal row
    counts; Spark reads the directory as one table."""
    os.makedirs(path)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for k in range(parts):
        _write(f"{path}/part-{k:05d}.parquet",
               {c: v[bounds[k]:bounds[k + 1]] for c, v in cols.items()})


def _tpch_base():
    """The sf0.1 reference tables, drawn as their generator draws them: one
    default_rng(42) stream, table by table, column by column."""
    n = TPCH_ROWS
    r = np.random.default_rng(42)
    t = {}
    k = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
        "c_mktsegment": r.choice(["BUILDING", "AUTOMOBILE", "MACHINERY",
                                  "HOUSEHOLD", "FURNITURE"], k)}
    k = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2)}
    k = n["part"]
    adj = np.array(["red", "blue", "small", "large", "hot", "cold", "old", "new"])
    noun = np.array(["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"])
    a, b = r.integers(0, 8, k), r.integers(0, 8, k)
    t["part"] = {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[a], " "), noun[b]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                            "PROMO"])[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": (9000 + np.arange(k) % 1000) / 10.0}
    k = n["orders"]
    day0 = np.datetime64("1995-01-01", "D")
    t["orders"] = {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, k)],
        "o_totalprice": np.round(r.uniform(1000, 500000, k), 2),
        "o_orderdate": (day0 + r.integers(0, 2405, k)).astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, k)]}
    k = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": r.integers(0, n["orders"], k),
        "l_partkey": r.integers(0, n["part"], k),
        "l_suppkey": r.integers(0, n["supplier"], k),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, k), 2),
        "l_discount": np.round(r.uniform(0, 0.1, k), 2),
        "l_tax": np.round(r.uniform(0, 0.08, k), 2),
        "l_returnflag": np.array(["R", "A", "N"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, k)],
        "l_shipdate": (day0 + r.integers(1, 2500, k)).astype("datetime64[us]")}
    return t


def _tpch(seed, out):
    """The base schema under a seed-keyed bijective remap of every entity key
    (applied to the key and all its foreign keys, names regenerated from the
    new key) and a seed-keyed row order: join results and every group's
    multiset of values are those of the base, the plans see new keys and a
    new physical layout."""
    t = _tpch_base()
    r = _rng(seed, "tpch")
    remap = {e: r.permutation(TPCH_ROWS[e]).astype(np.int64)
             for e in ("customer", "supplier", "part", "orders")}
    for table, col, entity in (
            ("customer", "c_custkey", "customer"), ("orders", "o_custkey", "customer"),
            ("supplier", "s_suppkey", "supplier"), ("lineitem", "l_suppkey", "supplier"),
            ("part", "p_partkey", "part"), ("lineitem", "l_partkey", "part"),
            ("orders", "o_orderkey", "orders"), ("lineitem", "l_orderkey", "orders")):
        t[table][col] = remap[entity][t[table][col]]
    t["customer"]["c_name"] = [f"Customer#{k:09d}" for k in t["customer"]["c_custkey"]]
    t["supplier"]["s_name"] = [f"Supplier#{k:09d}" for k in t["supplier"]["s_suppkey"]]
    order = {"customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
             "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]}
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    for name, cols in t.items():
        perm = r.permutation(TPCH_ROWS[name])
        names = order.get(name, list(cols))
        _write(f"{out}/{name}.parquet",
               {c: pa.array(np.asarray(cols[c])[perm]) for c in names})
    return dict(TPCH_ROWS)


def _unit(v):
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _corpus(seed, out):
    c = CORPUS
    r = _rng(seed, "documents")
    lens = r.integers(10, 101, c["docs"])
    texts = [" ".join(r.choice(_VOCAB, k)) for k in lens]
    ids = r.permutation(c["docs"]).astype(np.int64)  # seed-keyed key remap
    # planted near-duplicates: source text plus one token; sources have at
    # least 20 tokens, so 3-shingle Jaccard is >= 17/18 against the 0.8 bar
    eligible = np.flatnonzero(lens >= 20)
    src = np.sort(r.choice(eligible, c["planted_docs"], replace=False))
    dup_ids = ids[src] + PLANT_OFFSET
    doc_ids = np.concatenate([ids, dup_ids])
    doc_text = texts + [texts[i] + " dup" for i in src]
    order = r.permutation(len(doc_ids))  # seed-keyed row order
    langs = r.choice(["en", "zh", "es", "fr", "de"], len(doc_ids),
                     p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write_parts(f"{out}/documents.parquet", {
        "doc_id": doc_ids[order],
        "text": [doc_text[i] for i in order],
        "lang": langs,
        "source": [f"src{s}" for s in r.integers(0, 20, len(doc_ids))],
        "n_chars": np.array([len(doc_text[i]) for i in order], dtype=np.int64)},
        CORPUS_PARTS)

    r = _rng(seed, "embeddings")
    base = _unit(r.standard_normal((c["vectors"], c["dim"])))
    vids = r.permutation(c["vectors"]).astype(np.int64)
    vsrc = np.sort(r.choice(c["vectors"], c["planted_vectors"], replace=False))
    # near-duplicate: rotate 0.02 rad toward a random orthogonal direction
    # (cosine 0.9998), far inside the 0.97 recall contract of the LSH schedule
    noise = r.standard_normal((len(vsrc), c["dim"]))
    noise -= (noise * base[vsrc]).sum(1, keepdims=True) * base[vsrc]
    near = _unit(base[vsrc] * np.cos(0.02) + _unit(noise) * np.sin(0.02))
    vec = np.concatenate([base, near]).astype(np.float32)
    vec_ids = np.concatenate([vids, vids[vsrc] + PLANT_OFFSET])
    order = r.permutation(len(vec_ids))
    _write_parts(f"{out}/embeddings.parquet", {
        "vec_id": vec_ids[order],
        "embedding": pa.array(list(vec[order]), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, len(vec_ids)).astype(np.int32)}, CORPUS_PARTS)
    # query batch for annJoin: half are bit-identical copies of corpus
    # vectors (their source must rank top-1 at sim 1.0), half are fresh
    nq = c["queries"]
    qsrc = np.sort(r.choice(c["vectors"], nq // 2, replace=False))
    fresh = _unit(r.standard_normal((nq - nq // 2, c["dim"])))
    qvec = np.concatenate([base[qsrc], fresh]).astype(np.float32)
    qids = QUERY_OFFSET + np.arange(nq, dtype=np.int64)
    _write_parts(f"{out}/queries.parquet", {
        "vec_id": qids,
        "embedding": pa.array(list(qvec), type=pa.list_(pa.float32())),
        "label": np.zeros(nq, dtype=np.int32)}, CORPUS_PARTS)
    truth = {
        "doc_pairs": [[int(a), int(a) + PLANT_OFFSET] for a in ids[src]],
        "vec_pairs": [[int(a), int(a) + PLANT_OFFSET] for a in vids[vsrc]],
        "query_top1": [[int(QUERY_OFFSET + i), int(vids[s])]
                       for i, s in enumerate(qsrc)]}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return {"documents": len(doc_ids), "embeddings": len(vec_ids),
            "queries": nq}


def _stream(seed, out):
    s = STREAM
    r = _rng(seed, "events")
    n = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = s["days"] * 86400 * 1_000_000
    ts = np.sort(start + r.integers(0, span, n))
    ev = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, s["users"], n).astype(np.int64),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(r.exponential(50.0, n) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}
    # re-sent events: same event_id and payload, 1-30 s later, well inside
    # the dedup watermark horizon
    resend = np.sort(r.choice(n, s["resent"], replace=False))
    dup = {k: np.asarray(v)[resend] for k, v in ev.items()}
    dup["ts"] = dup["ts"] + r.integers(1_000_000, 30_000_000, len(resend))
    allv = {k: np.concatenate([np.asarray(ev[k]), dup[k]]) for k in ev}
    order = np.argsort(allv["ts"], kind="stable")
    allv = {k: v[order] for k, v in allv.items()}
    allv["ts"] = allv["ts"].astype("datetime64[us]")
    os.makedirs(f"{out}/shards")
    # time-sorted shards: shard k+1 starts at or after shard k's last event,
    # so one shard per trigger never delivers a row behind the watermark
    bounds = np.linspace(0, len(order), s["shards"] + 1).astype(int)
    for k in range(s["shards"]):
        sl = slice(bounds[k], bounds[k + 1])
        _write(f"{out}/shards/part-{k:05d}.parquet",
               {c: (v[sl] if c != "props" else list(v[sl])) for c, v in allv.items()})
    return {"events": int(len(order)), "shards": s["shards"],
            "distinct_events": n}


GENERATORS = {"tpch": _tpch, "corpus_dedup": _corpus, "stream_state": _stream}


def ensure(workload, seed, root):
    """Generate (or reuse) the inputs of `workload` for `seed` under `root`;
    return (directory, input sizes)."""
    out = os.path.join(root, f"{workload}-{seed}-v{VERSION}")
    marker = os.path.join(out, "_SIZES.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes = GENERATORS[workload](seed, tmp)
    with open(os.path.join(tmp, "_SIZES.json"), "w") as f:
        json.dump(sizes, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, sizes
