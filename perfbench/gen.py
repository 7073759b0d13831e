#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

The tables follow the shipped test-data schema (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`, one parquet file each) at the sf0.1
sizes, scaled by `base_scale`. Their CONTENT comes from a fixed template
generator, so every seed sees statistically the same data; the workload
seed only permutes row order, and with `copies > 1` also the order of the
replicated copies. That keeps run-to-run differences down to layout, which
is what a performance seed should vary.

Replication follows tools/gen_sf1.py: copy `i` offsets every join key by
`i * stride` (strides are the dense 0..N-1 key ranges of one copy), keeps
nation/region single, appends ` c<i>` to document text (recomputing
`n_chars`) and nudges the first embedding component by `i/1024`.

Files are written by DuckDB's parquet writer with its default row-group
policy (the same writer and policy gen_sf1.py uses), single-threaded so the
same seed gives byte-identical files.

Usage: python3 perfbench/gen.py <outdir> <seed> [copies] [base_scale] [tables]
"""
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa

TEMPLATE_SEED = 20240101

# sf0.1 row counts; `users` is the distinct user_id range of events
BASE_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "users": 1_500, "documents": 5_000, "embeddings": 2_000,
}

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
P_ADJ = ("blue", "old", "small", "new", "red", "large", "hot", "cold")
P_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016

# Parquet types of the shipped schema, applied on the way out
CASTS = {
    "region": "CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name",
    "nation": "CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,"
              " CAST(n_regionkey AS INTEGER) AS n_regionkey",
    "customer": "c_custkey, c_name, CAST(c_nationkey AS INTEGER) AS c_nationkey,"
                " c_acctbal, c_mktsegment",
    "supplier": "s_suppkey, s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey, s_acctbal",
    "part": "p_partkey, p_name, p_brand, p_type, CAST(p_size AS INTEGER) AS p_size,"
            " p_retailprice",
    "orders": "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
              " o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey,"
                " CAST(l_linenumber AS INTEGER) AS l_linenumber, l_quantity,"
                " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,"
                " l_shipdate",
    "events": "event_id, ts, user_id, event_type, value, props",
    "documents": "doc_id, text, lang, source, n_chars",
    "embeddings": "vec_id, CAST(embedding AS FLOAT[]) AS embedding,"
                  " CAST(label AS INTEGER) AS label",
}


def _days(start, n, rng, size):
    d0 = np.datetime64(start, "D")
    return (d0 + rng.integers(0, n, size)).astype("datetime64[us]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def template(base_scale=1.0):
    """One copy of every table as {name: {column: numpy array}}."""
    rng = np.random.default_rng(TEMPLATE_SEED)
    n = {k: max(1, int(round(v * base_scale))) for k, v in BASE_ROWS.items()}
    t = {}
    t["region"] = {"r_regionkey": np.arange(5), "r_name": np.array(REGIONS)}
    t["nation"] = {"n_nationkey": np.arange(25),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": np.arange(25) % 5}
    c = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(c),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": rng.integers(0, 25, c),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)}
    s = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(s),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": rng.integers(0, 25, s),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}
    p = n["part"]
    t["part"] = {
        "p_partkey": np.arange(p),
        "p_name": np.char.add(np.char.add(rng.choice(P_ADJ, p), " "),
                              rng.choice(P_NOUN, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(P_TYPES, p),
        "p_size": rng.integers(1, 51, p),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)}
    o = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(o),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(("O", "P", "F"), o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", 2404, rng, o),
        "o_orderpriority": rng.choice(PRIORITIES, o)}
    li = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": _money(rng, 0.0, 0.1, li),
        "l_tax": _money(rng, 0.0, 0.08, li),
        "l_returnflag": rng.choice(("A", "N", "R"), li),
        "l_linestatus": rng.choice(("F", "O"), li),
        "l_shipdate": _days("1995-01-02", 2499, rng, li)}
    e = n["events"]
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, e))
    t["events"] = {
        "event_id": np.arange(e),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])}
    d = n["documents"]
    lens = rng.integers(10, 101, d)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    # planted duplicates: exact copies and " dup"-suffixed near copies
    order = rng.permutation(d)
    n_exact = max(1, int(d * EXACT_DUP_SHARE))
    n_near = max(1, int(d * NEAR_DUP_SHARE))
    pairs = order[: 2 * (n_exact + n_near)].reshape(-1, 2)
    for k, (dst, src) in enumerate(pairs):
        texts[dst] = texts[src] + ("" if k < n_exact else " dup")
    t["documents"] = {
        "doc_id": np.arange(d),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": np.char.add("src", (np.arange(d) % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    v = n["embeddings"]
    vec = rng.standard_normal((v, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(v),
        "embedding": vec.astype(np.float32),
        "label": rng.integers(0, 10, v)}
    return t, n


def _replica(name, cols, i, n):
    """Copy `i` of one table under gen_sf1.py's key-offset scheme."""
    if i == 0 or name in ("nation", "region"):
        return dict(cols)
    off = {"c": i * n["customer"], "o": i * n["orders"], "p": i * n["part"],
           "s": i * n["supplier"], "e": i * n["events"], "u": i * n["users"],
           "d": i * n["documents"]}
    shift = {
        "customer": {"c_custkey": "c"},
        "supplier": {"s_suppkey": "s"},
        "part": {"p_partkey": "p"},
        "orders": {"o_orderkey": "o", "o_custkey": "c"},
        "lineitem": {"l_orderkey": "o", "l_partkey": "p", "l_suppkey": "s"},
        "events": {"event_id": "e", "user_id": "u"},
        "documents": {"doc_id": "d"},
        "embeddings": {"vec_id": "d"},
    }[name]
    out = {k: (a + off[shift[k]] if k in shift else a) for k, a in cols.items()}
    if name == "documents":
        out["text"] = np.array([x + f" c{i}" for x in cols["text"]], dtype=object)
        out["n_chars"] = np.array([len(x) for x in out["text"]], dtype=np.int64)
    if name == "embeddings":
        vec = cols["embedding"].copy()
        vec[:, 0] = (vec[:, 0].astype(np.float64) + i / 1024.0).astype(np.float32)
        out["embedding"] = vec
    return out


def _arrow(cols):
    arrays = {}
    for k, a in cols.items():
        if a.ndim == 2:
            flat = pa.array(a.reshape(-1), type=pa.float32())
            offsets = pa.array(np.arange(0, a.size + 1, a.shape[1], dtype=np.int32))
            arrays[k] = pa.ListArray.from_arrays(offsets, flat)
        else:
            arrays[k] = pa.array(a)
    return pa.table(arrays)


def generate(out_dir, seed, copies=1, base_scale=1.0, tables=ALL_TABLES):
    """Write the seeded tables to `out_dir`; return the manifest written
    beside them (rows and bytes per table plus the generation settings)."""
    tmpl, n = template(base_scale)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    manifest = {"seed": seed, "copies": copies, "base_scale": base_scale,
                "generator": "perfbench/gen.py", "tables": {}}
    for name in tables:
        base = tmpl[name]
        reps = 1 if name in ("nation", "region") else copies
        parts = []
        for i in rng.permutation(reps):
            rep = _replica(name, base, int(i), n)
            perm = rng.permutation(len(next(iter(rep.values()))))
            parts.append({k: a[perm] for k, a in rep.items()})
        cols = {k: np.concatenate([p_[k] for p_ in parts]) for k in base}
        con.register("src", _arrow(cols))
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT {CASTS[name]} FROM src) TO '{path}' (FORMAT PARQUET)")
        con.unregister("src")
        manifest["tables"][name] = {"rows": len(cols[next(iter(cols))]),
                                    "bytes": os.path.getsize(path)}
    con.close()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    a = sys.argv[1:]
    if len(a) < 2:
        sys.exit(__doc__)
    generate(a[0], int(a[1]), int(a[2]) if len(a) > 2 else 1,
             float(a[3]) if len(a) > 3 else 1.0,
             tuple(a[4].split(",")) if len(a) > 4 else ALL_TABLES)
