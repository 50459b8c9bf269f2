"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star schema the engine's entry points read
(region nation customer supplier part orders lineitem events documents
embeddings), one parquet file per table, with the column names and
types of the engine's test data.  The same (seed, sf) always gives the
same files.  `sf` scales row counts like TPC-H: sf=0.01 gives 1,500
customers, 15,000 orders and ~60,000 line items.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "plain"]
NOUNS = ["ring", "widget", "gear", "bolt", "plate", "valve", "spring", "frame"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small customer query order data column "
         "group filter stream big vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _spread(rng, n, k):
    """n values in [0, k) with every value equally often (up to one),
    in seeded order: the seed moves keys around but does not change how
    much work any key carries."""
    return rng.permutation(np.arange(n) % k)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _sentence(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(64, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_ev = max(200, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(_spread(rng, n_cust, 25), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in _spread(rng, n_cust, 5)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(_spread(rng, n_supp, 25), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})

    odate = _days(rng, 0, 2404, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(_spread(rng, n_ord, n_cust), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in _spread(rng, n_ord, 3)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lines = 1 + _spread(rng, n_ord, 7)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li)
                               .astype("timedelta64[D]"), pa.timestamp("us"))})

    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * 86_400_000_000, n_ev)
                 .astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # every tenth document is a light edit of an earlier one, so the
    # dedup jobs find real near-duplicate pairs
    texts = []
    n_words = _spread(rng, n_doc, 82)
    for i in range(n_doc):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_sentence(rng, 8 + int(n_words[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.3, (n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    sizes = {"region": 5, "nation": 25, "customer": n_cust, "orders": n_ord, "lineitem": n_li,
             "part": n_part, "supplier": n_supp, "documents": n_doc}
    with open(f"{out}/sizes.json", "w") as fh:
        json.dump(sizes, fh)
    return sizes
