"""Seeded star-schema tables for the gate workload.

The ten tables the gates read (region nation customer supplier part orders
lineitem events documents embeddings), one parquet file each, with the
column names, physical types and value ranges of the TESTDATA.md tables.
The same (seed, sf) always gives the same bytes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
PART_ADJ = "small red blue hot old large new cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, days, n):
    day = np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(day, pa.timestamp("us"))


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    _write(out, "region", {"r_regionkey": i32(range(5)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE"], n_cust).tolist()})
    _write(out, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                              "LARGE"], n_part).tolist(),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord).tolist()})
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(500, 3500, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _dates(rng, "1995-01-02", 2405, n_line)})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype("int64")
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 150, n_ev)),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:   # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    _write(out, "documents", {
        "doc_id": i64(range(n_doc)), "text": texts,
        "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})
