"""DuckDB oracle compare for `query_suite` answers.

Each answer is the parquet a query's set-up run wrote; its oracle is the
registry's DuckDB SQL over the same input tables (registered as views).
Column names (sorted), row count and a value hash (columns sorted by
name, rows in emitted order, values canonicalized) must all agree.
"""
import datetime
import glob
import hashlib
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update(("|".join(canon(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()


def compare(tables_dir, answers_dir, oracle_sql):
    """Return {query: problem} for every answer that disagrees with its oracle."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    problems = {}
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(answers_dir, name, "*.parquet")))
        if not files:
            problems[name] = "no answer"
            continue
        try:
            scols = [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()]
            srows = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
            ocols = [d[0] for d in con.execute(f"DESCRIBE {sql}").fetchall()]
            orows = con.execute(sql).fetchall()
        except duckdb.Error as e:
            problems[name] = f"{type(e).__name__}: {e}"
            continue
        if sorted(scols) != sorted(ocols):
            problems[name] = f"columns {sorted(scols)} != oracle {sorted(ocols)}"
        elif len(srows) != len(orows):
            problems[name] = f"{len(srows)} rows != oracle {len(orows)}"
        elif table_hash(scols, srows) != table_hash(ocols, orows):
            problems[name] = "values differ from the oracle"
    con.close()
    return problems
