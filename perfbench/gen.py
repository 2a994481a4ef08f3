"""Seeded input generator for the benchmark workloads.

Writes the harness tables each workload reads, in the harness parquet
schemas (FIXTURES.md section B), from one integer seed. The engine only
ever sees these parquet files. The same (workload, seed, scale) always
gives byte-identical files: numpy's PCG64 stream is fixed per seed, and the
tables are written by pyarrow with fixed writer options and no pandas
metadata.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [scale]

Input properties per workload (PROPS) are recorded next to the files in
props.json; wordcount also gets the exact token frequencies (freq.json).
"""
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("ms"))])

LANGS = np.array(["en", "fr", "de", "es", "zh"])
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
N_SOURCES = 20

# Per-workload input properties at scale 1. `scale` multiplies the row
# counts (the self-test runs at a tiny scale); every other property holds.
PROPS = {
    "wordcount": {
        "docs": 40000, "words_per_doc": [60, 180], "vocab": 50000,
        "zipf_s": 1.1, "word_len": [2, 10], "row_groups_per_core": 2,
    },
    "graph_iter": {
        "orders": 4000, "lines_per_order": [1, 7], "parts": 2000,
        "suppliers": 100, "part_zipf_s": 0.8, "supps_per_part": 4,
        "row_groups": 1,
    },
}


def _vocab(rng, n, lo, hi):
    """n distinct lowercase a-z words with lengths in [lo, hi]."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    seen, out = set(), []
    while len(out) < n:
        m = (n - len(out)) * 2
        lens = rng.integers(lo, hi + 1, m)
        chars = letters[rng.integers(0, 26, int(lens.sum()))]
        pos = 0
        for ln in lens:
            w = b"".join(chars[pos:pos + ln]).decode()
            pos += ln
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _zipf_ids(rng, n_vocab, s, n):
    """n draws from a Zipf(s) law truncated to ranks 0..n_vocab-1."""
    p = 1.0 / np.arange(1, n_vocab + 1) ** s
    cdf = np.cumsum(p / p.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n)), n_vocab - 1)


def _write(table, path, row_group_size):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy", store_schema=False)


def _docs_table(ids, texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOCS_SCHEMA)


def gen_wordcount(rng, out, scale, cores):
    p = PROPS["wordcount"]
    n_docs = max(8, int(p["docs"] * scale))
    vocab = _vocab(rng, p["vocab"], *p["word_len"])
    lens = rng.integers(p["words_per_doc"][0], p["words_per_doc"][1] + 1, n_docs)
    ids = _zipf_ids(rng, len(vocab), p["zipf_s"], int(lens.sum()))
    words = np.array(vocab, dtype=object)[ids]
    bounds = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, bounds)]
    groups = p["row_groups_per_core"] * cores
    _write(_docs_table(np.arange(n_docs), texts, rng), out / "documents.parquet",
           -(-n_docs // groups))
    counts = np.bincount(ids, minlength=len(vocab))
    order = sorted(range(len(vocab)), key=lambda i: (-counts[i], vocab[i]))
    (out / "freq.json").write_text(json.dumps(
        {"tokens": int(lens.sum()), "distinct": int((counts > 0).sum()),
         "top": [[vocab[i], int(counts[i])] for i in order[:100]]}))
    return {"docs": n_docs, "tokens": int(lens.sum()),
            "text_mb": round(sum(map(len, texts)) / 2**20, 2),
            "row_groups": groups}


def gen_graph_iter(rng, out, scale):
    p = PROPS["graph_iter"]
    n_orders = max(16, int(p["orders"] * scale))
    n_parts, n_supp = p["parts"], p["suppliers"]
    lines = rng.integers(p["lines_per_order"][0], p["lines_per_order"][1] + 1,
                         n_orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    # part popularity is Zipf-skewed (a few hub parts, a long tail), and
    # each part is stocked by a fixed small supplier set, so vertex degree
    # spreads over orders of magnitude on the part-supplier graph
    pkey = _zipf_ids(rng, n_parts, p["part_zipf_s"], n)
    k = p["supps_per_part"]
    supp_of = rng.integers(0, n_supp, (n_parts, k))
    skey = supp_of[pkey, rng.integers(0, k, n)]
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    ship = (np.datetime64("1992-01-01", "ms")
            + rng.integers(0, 2500, n).astype("timedelta64[D]"))
    li = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(skey, pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    }, schema=LINEITEM_SCHEMA)
    _write(li, out / "lineitem.parquet", n)
    deg = np.bincount(pkey, minlength=n_parts)
    return {"rows": n, "orders": n_orders, "part_degree_max": int(deg.max()),
            "part_degree_median": float(np.median(deg))}


def generate(workload, seed, out, scale=1.0, cores=4):
    """Write `workload`'s tables for `seed` into directory `out`."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(PROPS).index(workload)])
    if workload == "wordcount":
        stats = gen_wordcount(rng, out, scale, cores)
    elif workload == "graph_iter":
        stats = gen_graph_iter(rng, out, scale)
    else:
        raise ValueError(f"unknown workload {workload}")
    props = {"workload": workload, "seed": seed, "scale": scale,
             "props": PROPS[workload], "stats": stats}
    (out / "props.json").write_text(json.dumps(props, sort_keys=True))
    return props


if __name__ == "__main__":
    a = sys.argv[1:]
    print(json.dumps(generate(a[0], int(a[1]), a[2],
                              float(a[3]) if len(a) > 3 else 1.0)))
