"""Cross-checks the registry's expected digests against DuckDB.

For every query whose results the harness dumped (the ones with DuckDB
oracle SQL), DuckDB runs the oracle SQL over the same fixture tables and
the two result sets must hold the same rows, compared order-insensitively
with doubles rounded to 9 significant digits. The Spark row count must
also equal the count in the digest.

Called by ``run.py --expect``; returns the names it checked.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        return "0" if v == 0 else f"{v:.8e}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _rows(df):
    df = df[sorted(df.columns)]
    return sorted(tuple(_cell(x) for x in r) for r in df.itertuples(index=False))


def check(fixtures, dump_dir, digests):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        spark = pd.read_parquet(os.path.join(dump_dir, name))
        duck = con.sql(sql).df()
        if len(spark) != digests[name]["rows"]:
            bad.append(f"{name}: dump has {len(spark)} rows, digest {digests[name]['rows']}")
        elif sorted(spark.columns) != sorted(duck.columns):
            bad.append(f"{name}: columns {sorted(spark.columns)} vs {sorted(duck.columns)}")
        elif _rows(spark) != _rows(duck):
            bad.append(f"{name}: rows differ from DuckDB")
    if bad:
        raise SystemExit("DuckDB cross-check failed:\n  " + "\n  ".join(bad))
    return sorted(oracle)
