"""Check query results against DuckDB running each query's oracle SQL.

Both sides are brought to one canonical form before they are compared:
columns sorted by name, rows sorted by every column, every cell as its
string. A query whose result differs in any cell, column or row count is a
failed operation.

The oracle side depends only on the SQL and the input tables, so its
canonical rows are cached under perfbench/work/oracle-cache, keyed by a hash
of both. `python3 perfbench/oracle.py --clear` empties the cache; the next
run of the queries workload rebuilds every entry it needs.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work", "oracle-cache")


def canon(rel):
    """Rows of a relation as sorted lists of strings, columns by name."""
    df = rel.df()
    df = df[sorted(df.columns)]
    df = df.map(lambda v: str(list(v)) if hasattr(v, "__len__") and not isinstance(v, str) else v)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return list(df.columns), df.astype(str).values.tolist()


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def tables_hash(tables_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{tables_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected(con, sql, key, cache):
    path = os.path.join(cache, key + ".json")
    if os.path.isfile(path):
        with open(path) as f:
            d = json.load(f)
        return d["columns"], d["rows"]
    cols, rows = canon(con.sql(sql))
    os.makedirs(cache, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"columns": cols, "rows": rows}, f)
    os.replace(tmp, path)
    return cols, rows


def diff(name, got, exp):
    """One line describing how `got` differs from `exp`, or None."""
    (gc, gr), (ec, er) = got, exp
    if gc != ec:
        return f"{name}: columns {gc} != oracle {ec}"
    if len(gr) != len(er):
        return f"{name}: {len(gr)} rows != oracle {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            return f"{name}: row {i} {dict(zip(gc, a))} != oracle {dict(zip(ec, b))}"
    return None


def compare(outputs, tables_dir, cache=CACHE):
    """Problems, one per query whose result differs from its oracle."""
    con = connect(tables_dir)
    th = tables_hash(tables_dir)
    problems = []
    for name, o in sorted(outputs.items()):
        try:
            if not glob.glob(f"{o['dir']}/*.parquet"):
                problems.append(f"{name}: no result written")
                continue
            got = canon(con.sql(f"SELECT * FROM '{o['dir']}/*.parquet'"))
            key = hashlib.sha256((th + o["sql"]).encode()).hexdigest()
            d = diff(name, got, expected(con, o["sql"], key, cache))
        except Exception as e:  # an oracle or read error fails the query
            d = f"{name}: {type(e).__name__}: {e}"
        if d:
            problems.append(d)
    return problems


if __name__ == "__main__":
    if sys.argv[1:] == ["--clear"]:
        shutil.rmtree(CACHE, ignore_errors=True)
        print(f"cleared {CACHE}")
    else:
        sys.exit(__doc__)
