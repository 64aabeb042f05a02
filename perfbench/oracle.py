"""DuckDB oracle compare for the gate workload.

Each gate's first-pass rows (one parquet directory per gate under the
results directory) are compared with its oracle SQL run by DuckDB over the
same tables: same column names, same row count, and the same hash of the
rows rendered as text with columns sorted by name and lines sorted. Both
sides are fetched through pandas, as the repository's driver does.
"""
import glob
import hashlib
import json

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NULL" if v != v else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _fingerprint(df):
    cols = [c.lower() for c in df.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order)
                   for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode() + b"\n")
    return sorted(cols), len(lines), h.hexdigest()


def compare(tables_dir, results_dir):
    """Returns one message per gate whose rows differ from the oracle's."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    with open(f"{results_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            continue  # the gate threw; the JVM side already counted it
        try:
            spark = _fingerprint(pq.read_table(files).to_pandas(date_as_object=False))
            duck = _fingerprint(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - any oracle error is a mismatch
            bad.append(f"{name}: oracle compare raised {type(e).__name__}: {e}")
            continue
        if spark != duck:
            what = ("columns" if spark[0] != duck[0] else
                    "row count" if spark[1] != duck[1] else "row hash")
            bad.append(f"{name}: {what} differs from the DuckDB oracle "
                       f"(spark {spark[1]} rows, duckdb {duck[1]} rows)")
    return bad
