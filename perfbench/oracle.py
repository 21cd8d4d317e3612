"""DuckDB oracle compare for the benchmark's operation results.

Runs each operation's oracle SQL (SparkEntry.oracleSql) in DuckDB over the
run's generated parquet tables and compares it with the result the program
produced, with the semantics of tools/check_oracle.py: columns sorted by
name, column names and type families equal, and the rows equal as a
multiset.
"""
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(0.0 if v == 0.0 else v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _type(t):
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t == "HUGEINT" or t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


def _frame(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = [_type(str(t)) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_cell(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], [types[i] for i in order], rows


def check(data_dir, results_dir, oracles):
    """({operation: "" if its result matches its oracle, else why not},
    [operations whose rows match but in another order than the oracle's])."""
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{Path(data_dir) / t}.parquet')")
    verdicts, reordered = {}, []
    for name, sql in oracles.items():
        got = Path(results_dir) / name
        if sql is None:
            verdicts[name] = "no oracle SQL"
        elif not list(got.glob("*.parquet")):
            verdicts[name] = "no result (the cold pass failed)"
        else:
            try:
                wc, wt, wr = _frame(con, sql)
                hc, ht, hr = _frame(con, f"SELECT * FROM read_parquet('{got}/*.parquet')")
                if (wc, wt, sorted(wr)) != (hc, ht, sorted(hr)):
                    verdicts[name] = f"differs from the oracle ({len(wr)} oracle rows, {len(hr)} rows)"
                else:
                    verdicts[name] = ""
                    if wr != hr:
                        reordered.append(name)
            except duckdb.Error as e:
                verdicts[name] = f"oracle error: {e}"
    con.close()
    return verdicts, reordered
