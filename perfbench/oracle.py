"""DuckDB oracle check for the query-mix workload.

Each op's warm-up result, dumped as parquet by the benchmark JVM, is
compared with the op's `SparkEntry.oracleSql` run in DuckDB over the same
tables. Rows are canonicalised the way tools/check_oracle.py does it
(columns sorted by name, floats rounded to 9 places, rows sorted) and
hashed. Expected hashes are cached in `cache_dir`, keyed on the tables'
content and the SQL text.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    out = []
    for row in rows:
        out.append(tuple(round(v, 9) if isinstance(v, float) else str(v) for v in row))
    return sorted(out, key=repr)


def digest(cols, rows):
    return hashlib.sha1(repr((cols, canon(rows))).encode()).hexdigest()


def sorted_rows(con, rel):
    cols = sorted(rel.columns)
    return cols, con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()


def tables_key(tables_dir):
    h = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(tables_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected(con, tables_key_, name, sql, cache_dir):
    key = hashlib.sha1(f"{tables_key_}\n{name}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    rel = con.sql(sql)
    cols, rows = sorted_rows(con, rel)
    value = {"cols": cols, "hash": digest(cols, rows), "rows": len(rows)}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def check(tables_dir, dump_dir, oracle_sql, cache_dir):
    """Return {op: reason} for every op whose dump disagrees with DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    key = tables_key(tables_dir)
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no result dumped"
            continue
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        cols, rows = sorted_rows(con, rel)
        try:
            want = expected(con, key, name, sql, cache_dir)
        except duckdb.Error as e:
            bad[name] = f"oracle SQL error: {e}"
            continue
        if cols != want["cols"]:
            bad[name] = f"columns {cols} != {want['cols']}"
        elif digest(cols, rows) != want["hash"]:
            bad[name] = f"{len(rows)} rows differ from the oracle's {want['rows']}"
    return bad
