"""Seeded input generator for the benchmark.

Writes the ten fixture tables the advisor and the operator keys read
(TPC-H-shaped core tables, the `events` log stand-in, `documents`,
`embeddings`) and, on request, a wide streamed query log. The same seed
always gives byte-identical rows; nothing is read from outside the output
directory.

    python3 perfbench/gen.py --selfcheck     # determinism check of the wide log
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window order data column join small big customer query "
         "filter group stream vector index").split()
LANGS = (["en", "zh", "de", "es", "fr"], [0.44, 0.15, 0.14, 0.146, 0.124])
DAY_US = 86_400_000_000


def _days(rng, start, end, n):
    """n naive timestamp[us] values at midnight, spread evenly over [start, end]."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return pa.array((lo + _even(rng, hi - lo + 1, n)) * DAY_US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _even(rng, k, n):
    """n values 0..k-1, each used equally often, in seeded order. Keys and
    categories are drawn this way so every seed gives the same cardinalities
    and frequencies, and with them the same advice and the same work."""
    return rng.permutation(np.arange(n) % k)


def _pick(rng, values, n):
    return [values[i] for i in _even(rng, len(values), n)]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, seed, sf=0.01):
    """Write the ten fixture tables at scale `sf` (sf=0.01: lineitem 60k rows).

    Returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    rows = {}

    def put(name, cols):
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": regions})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(_even(rng, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, segs, n_cust)})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(_even(rng, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
    noun = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
    ptypes = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ptypes, n_part),
        "p_size": pa.array(1 + _even(rng, 50, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": _even(rng, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, prios, n_ord)})
    put("lineitem", {
        "l_orderkey": _even(rng, n_ord, n_li),
        "l_partkey": _even(rng, n_part, n_li),
        "l_suppkey": _even(rng, n_supp, n_li),
        "l_linenumber": pa.array(1 + _even(rng, 7, n_li), pa.int32()),
        "l_quantity": (1 + _even(rng, 50, n_li)).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": _even(rng, 11, n_li) / 100.0,
        "l_tax": _even(rng, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    # events: distinct, increasing microsecond timestamps over 30 days
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.choice(30 * DAY_US, n_ev, replace=False)) + start
    etypes = ["click", "signup", "error", "view", "purchase"]
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": _even(rng, max(n_cust // 10, 1), n_ev),
        "event_type": _pick(rng, etypes, n_ev),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in _even(rng, 100, n_ev)]})
    # documents: random word strings; every 20th is a near-duplicate of an
    # earlier document (one word changed) so dedup has clusters to find
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(len(words) // 2, len(words))] = WORDS[rng.integers(0, 31)]
        else:
            words = [WORDS[j] for j in rng.integers(0, 31, rng.integers(10, 100))]
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(rng.permutation(np.repeat(LANGS[0], np.round(np.array(LANGS[1]) * n_doc).astype(int)))[:n_doc]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(_even(rng, 10, n_doc), pa.int32())})
    with open(os.path.join(out_dir, "rows.json"), "w") as f:
        json.dump(rows, f)
    return rows


# ------------------------------------------------------------ wide query log

_COLS = {"lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
                      "l_linestatus", "l_shipdate", "l_quantity"],
         "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
                    "o_orderpriority", "o_totalprice"],
         "customer": ["c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"],
         "part": ["p_partkey", "p_brand", "p_type", "p_size"],
         "supplier": ["s_suppkey", "s_nationkey", "s_acctbal"]}
_JOINS = [("orders", "lineitem", "o_orderkey", "l_orderkey"),
          ("customer", "orders", "c_custkey", "o_custkey"),
          ("part", "lineitem", "p_partkey", "l_partkey"),
          ("supplier", "lineitem", "s_suppkey", "l_suppkey")]


def _text(rng, i):
    """Distinct text number i: join/filter/group-by, CTE + IN-subquery, Trino
    dialect (approx_distinct, ARRAY[...]) or, for ~1%, an unparseable one."""
    shape = rng.random()
    t1, t2, k1, k2 = _JOINS[rng.integers(0, len(_JOINS))]
    g = _COLS[t1][rng.integers(0, len(_COLS[t1]))]
    f = _COLS[t2][rng.integers(0, len(_COLS[t2]))]
    if shape < 0.01:
        return f"SELEC {g} FRM {t1} WHERE AND {i}"
    if shape < 0.45:
        return (f"SELECT {g}, count(*) FROM {t1} JOIN {t2} ON {k1} = {k2} "
                f"WHERE {f} IS NOT NULL AND {k2} > {i} GROUP BY {g}")
    if shape < 0.75:
        return (f"WITH c AS (SELECT {k2} FROM {t2} WHERE {f} IS NOT NULL LIMIT {i}) "
                f"SELECT {g} FROM {t1} WHERE {k1} IN (SELECT {k2} FROM c)")
    if shape < 0.88:
        return f"SELECT approx_distinct({g}) FROM {t1} WHERE {k1} < {i}"
    return f"SELECT ARRAY[{k1}, {i}] AS arr, {g} FROM {t1} WHERE {k1} >= {i}"


def wide_log(seed, rows=400_000, texts=13_000, zipf_s=1.1):
    """The wide query log as a pyarrow table (reference log schema).

    Every one of `texts` distinct texts appears at least once; the remaining
    rows follow a Zipf(`zipf_s`) frequency over text rank. Execution times are
    log-normal around 6 s, so they span the 10 s interactive threshold."""
    rng = np.random.default_rng([seed, 7])
    corpus = [_text(rng, i) for i in range(texts)]
    p = 1.0 / np.arange(1, texts + 1) ** zipf_s
    idx = np.concatenate([np.arange(texts),
                          rng.choice(texts, rows - texts, p=p / p.sum())])
    rng.shuffle(idx)
    exec_ms = np.minimum(rng.lognormal(np.log(6000), 1.0, rows), 3.6e6).astype(np.int64)
    start = np.datetime64("2024-02-01", "us").astype("int64")
    return pa.table({
        "query_id": pa.array(np.arange(rows).astype(str)),
        "query": pa.DictionaryArray.from_arrays(
            pa.array(idx.astype(np.int32)), pa.array(corpus)).cast(pa.string()),
        "create_time": pa.array(start + np.arange(rows, dtype=np.int64) * 1000,
                                pa.timestamp("us", tz="UTC")),
        "execution_time_ms": exec_ms,
        "cpu_time_ms": exec_ms * 6 // 10,
        "scheduled_time_ms": exec_ms // 10,
        "input_bytes": rng.integers(1_000, 10_000_000_000, rows),
        "peak_memory_bytes": rng.integers(1_000, 1_000_000_000, rows),
        "peak_total_memory_bytes": rng.integers(1_000, 2_000_000_000, rows)})


def write_wide_log(out_dir, seed, files=2, **kw):
    """Split the wide log into `files` equal parquet files, in stream order."""
    os.makedirs(out_dir, exist_ok=True)
    t = wide_log(seed, **kw)
    step = -(-t.num_rows // files)
    for k in range(files):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(t.slice(k * step, step), path)
        # the file stream source orders files by modification time
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    return t.num_rows


def _profile(t):
    counts = t.group_by("query").aggregate([("query", "count")])
    freq = dict(zip(counts["query"].to_pylist(), counts["query_count"].to_pylist()))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue()).hexdigest(), freq


def selfcheck(seed=42, rows=60_000, texts=13_000):
    """Same seed → identical rows; another seed → another text set and
    frequencies. Returns a list of failure messages (empty when it holds)."""
    d1, f1 = _profile(wide_log(seed, rows, texts))
    d2, f2 = _profile(wide_log(seed, rows, texts))
    d3, f3 = _profile(wide_log(seed + 1, rows, texts))
    bad = []
    if d1 != d2:
        bad.append("wide log: the same seed gave different rows")
    if set(f1) == set(f3):
        bad.append("wide log: another seed gave the same text set")
    if sorted(f1.values()) == sorted(f3.values()):
        bad.append("wide log: another seed gave the same frequencies")
    if len(f1) < 12_000:
        bad.append(f"wide log: only {len(f1)} distinct texts (< 12000)")
    return bad


if __name__ == "__main__":
    if sys.argv[1:] == ["--selfcheck"]:
        problems = selfcheck()
        print("\n".join(problems) or "ok: generator is deterministic per seed")
        sys.exit(1 if problems else 0)
    sys.exit("usage: gen.py --selfcheck")
