"""DuckDB oracle compare for the query board.

Each query's result, dumped by the warm-up pass as parquet, is compared
with its `SparkEntry.oracleSql` statement run in DuckDB over the same
(seed-permuted) tables: same column names, same row count, same content
hash over rows sorted with columns in name order.

It also gives each query's input rows, the board's row count behind
`rows_per_s`: the rows of the base tables its oracle SQL reads. That
count is fixed by the query and the data, so neither the plan graft
picks nor the seed's row order moves it.
"""
import hashlib
import json
import math
import os
import re

import duckdb
import pyarrow.parquet as pq

from gen import ALL_TABLES


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def _digest(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in sorted(rows, key=_key):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def compare(data, dump):
    """{query: {"rows", "hash", "input_rows"} or {"error"}} for every
    query in the dump."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 4}")
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    table_rows = {t: pq.read_metadata(os.path.join(data, f"{t}.parquet")).num_rows
                  for t in ALL_TABLES}
    out = {}
    for name, sql in sorted(oracles.items()):
        input_rows = sum(n for t, n in table_rows.items()
                         if re.search(rf"\b(FROM|JOIN)\s+{t}\b", sql, re.IGNORECASE))
        pdir = os.path.join(dump, name)
        try:
            spark = pq.read_table(pdir)
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # a query or oracle that cannot run fails the op
            out[name] = {"error": f"oracle compare could not run: {str(e)[:300]}"}
            continue
        cols = sorted(spark.column_names)
        if cols != sorted(dcols):
            out[name] = {"error": f"oracle columns differ: spark={cols} duckdb={sorted(dcols)}"}
            continue
        srows = [tuple(_norm(r[c]) for c in cols) for r in spark.select(cols).to_pylist()]
        idx = [dcols.index(c) for c in cols]
        orows = [tuple(_norm(r[i]) for i in idx) for r in drows]
        sh, oh = _digest(cols, srows), _digest(cols, orows)
        if len(srows) != len(orows):
            out[name] = {"error": f"oracle rows differ: spark={len(srows)} duckdb={len(orows)}"}
        elif sh != oh:
            out[name] = {"error": f"oracle content hash differs: spark={sh} duckdb={oh}"}
        else:
            out[name] = {"rows": len(orows), "hash": oh, "input_rows": input_rows}
    return out
