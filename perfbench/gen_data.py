"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas and value domains documented in FIXTURES.md,
at a chosen scale factor (documents and embeddings at their own). The
data depends only on (scale, text_scale, DATA_SEED):
the benchmark's --seed permutes op order and samples trainer inputs, it
never changes the tables, so the reference fingerprints hold for every
seed.

Usage: python3 perfbench/gen_data.py <out_dir> [scale [text_scale]]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated bytes change, so cached data is regenerated
VERSION = 1

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "large hot blue small red cold green dark".split()
PART_NOUN = "ring bolt nut gear pipe valve plate screw".split()
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]


def _ts(start, end, n, rng, unit):
    """n uniform timestamps in [start, end) as numpy datetime64[unit]."""
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi, n).astype(f"datetime64[{unit}]")


def _days(start, end, n, rng):
    """n uniform midnight timestamps in [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(np.int64) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale, text_scale):
    """Build every table as a pyarrow Table, keyed by name. `documents`
    and `embeddings` take their own scale factor, `text_scale`."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(200, int(200000 * scale))
    n_ord = max(1500, int(1500000 * scale))
    n_ev = max(1000, int(1000000 * scale))
    n_users = max(15, int(15000 * scale))
    n_doc = max(500, int(50000 * text_scale))
    n_emb = max(500, int(20000 * text_scale))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    # 1..7 lines per order: (l_orderkey, l_linenumber) is a unique key
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    ts = np.sort(_ts("2024-01-01", "2024-01-31", n_ev, rng, "us"))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random vocabulary text; 5% are near-duplicates of an
    # earlier document (one word dropped, " dup" appended)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if len(words) > 2:
                del words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def generate(out_dir, scale, text_scale):
    """Write every table under out_dir unless a matching marker exists."""
    marker = os.path.join(out_dir, "_DONE")
    stamp = f"v{VERSION} scale={scale} text_scale={text_scale} seed={DATA_SEED}\n"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return False
    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(marker):
        os.remove(marker)
    for name, t in tables(scale, text_scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return True


if __name__ == "__main__":
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 0.02
    generate(sys.argv[1], scale, float(sys.argv[3]) if len(sys.argv) > 3 else scale)
