"""Seeded inputs for the benchmark, made from the base tables in data/.

The seed permutes row order. Everything the program reads is written
here; the expected outputs (row counts, lookup tables in first-seen
order, sample values) are read back from the CSV text.
"""
import csv
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every base table with a CSV form; embeddings (a float-array column)
# has none.
CSV_TABLES = ["region", "nation", "supplier", "customer", "part",
              "orders", "lineitem", "events", "documents"]
ALL_TABLES = CSV_TABLES + ["embeddings"]

# One graft.Cli invocation per table: (flags, primary key or None,
# extracted columns as (column, lookup table, value column)).
FLAGS = {
    "region": (["-pk", "r_regionkey"], "r_regionkey", []),
    "nation": (["-pk", "n_nationkey", "-i", "n_regionkey"], "n_nationkey", []),
    "supplier": (["-pk", "s_suppkey", "-i", "s_nationkey"], "s_suppkey", []),
    "customer": (["-pk", "c_custkey", "-i", "c_nationkey"], "c_custkey",
                 [("c_mktsegment", "segments", "name")]),
    "part": (["-pk", "p_partkey"], "p_partkey",
             [("p_brand", "part_labels", "label"), ("p_type", "part_labels", "label")]),
    "orders": (["-pk", "o_orderkey", "-d", "o_orderdate", "-i", "o_custkey"], "o_orderkey",
               [("o_orderstatus", "order_codes", "code"), ("o_orderpriority", "order_codes", "code")]),
    "lineitem": (["-i", "l_orderkey"], None,
                 [("l_returnflag", "line_flags", "flag"), ("l_linestatus", "line_flags", "flag")]),
    "events": (["-pk", "event_id", "-i", "user_id"], "event_id", []),
    "documents": (["-pk", "doc_id", "-f", "text"], "doc_id",
                  [("lang", "doc_labels", "label"), ("source", "doc_labels", "label")]),
}

# Columns the sample check reads back, by kind.
SAMPLES = {
    "region": [("text", "r_name")],
    "nation": [("text", "n_name")],
    "supplier": [("float", "s_acctbal"), ("text", "s_name")],
    "customer": [("float", "c_acctbal"), ("text", "c_name")],
    "part": [("float", "p_retailprice"), ("text", "p_name")],
    "orders": [("date", "o_orderdate"), ("float", "o_totalprice"), ("text", "o_orderstatus")],
    "lineitem": [("date", "l_shipdate"), ("float", "l_extendedprice"), ("text", "l_returnflag")],
    "events": [("date", "ts"), ("float", "value"), ("text", "event_type")],
    "documents": [("text", "text")],
}

LINEITEM_FILES = 4          # split; every second file is gzipped
# csv_fresh warms up on the same tables and flags cut to this many rows:
# a warm-up op costs its cold class loading and code generation, which
# do not depend on the rows
WARM_ROWS = 400


def _permute(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _csv_frame(table):
    """Column values as CSV text: dates that are all midnight print as
    ISO dates, other timestamps as ISO date-times; floats as Python's
    shortest round-trip repr."""
    df = table.to_pandas()
    for name in df.columns:
        col = df[name]
        if str(col.dtype).startswith("datetime64"):
            if (col.dropna() == col.dropna().dt.normalize()).all():
                df[name] = col.dt.strftime("%Y-%m-%d")
            else:
                df[name] = col.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    return df


def _write_csv(table, path):
    df = _csv_frame(table)
    if path.endswith(".gz"):
        with gzip.open(path, "wt", newline="", compresslevel=6) as f:
            df.to_csv(f, index=False)
    else:
        df.to_csv(path, index=False)
    return {"path": path, "rows": table.num_rows, "bytes": os.path.getsize(path)}


def _read_csv(path):
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", newline="") as f:
        r = csv.reader(f)
        header = next(r)
        return header, list(r)


def _expect(table, files, rng):
    """What a load of `files` into a new .db must produce: row count,
    lookup values in first-seen order and one sampled row."""
    _, pk, extracts = FLAGS[table]
    parsed = [_read_csv(f["path"]) for f in files]
    # first-seen order: per -c spec, then per file, then per row
    dicts = {}  # lookup table -> values in id order
    for column, lk, _ in extracts:
        seen = dicts.setdefault(lk, [])
        seen_set = set(seen)
        for header, rows in parsed:
            i = header.index(column)
            for row in rows:
                v = row[i]
                if v != "" and v not in seen_set:
                    seen_set.add(v)
                    seen.append(v)
    all_rows = [(h, r) for h, rows in parsed for r in rows]
    pos = int(rng.integers(len(all_rows)))
    header, row = all_rows[pos]
    samples = []
    lookup_of = {c: (lk, vc) for c, lk, vc in extracts}
    for kind, column in SAMPLES[table]:
        s = {"kind": kind, "column": column, "text": row[header.index(column)]}
        if pk:
            s.update(key_col=pk, key=int(row[header.index(pk)]))
        else:
            s.update(key_col="rowid", key=pos + 1)
        if column in lookup_of:
            s.update(lookup=lookup_of[column][0], value_col=lookup_of[column][1])
        samples.append(s)
    return {
        "table": table,
        "rows": len(all_rows),
        "lookups": {lk: {"value_col": vc, "values": dicts[lk]} for _, lk, vc in extracts},
        "samples": samples,
    }


def _invocation(table, files, rng):
    flags, _, extracts = FLAGS[table]
    args = [f["path"] for f in files] + ["{db}", "-t", table] + flags
    for column, lk, vc in extracts:
        args += ["-c", f"{column}:{lk}:{vc}"]
    return {
        "table": table,
        "args": args,
        "files": files,
        "csv_rows": sum(f["rows"] for f in files),
        "csv_bytes": sum(f["bytes"] for f in files),
        "expect": _expect(table, files, rng),
    }


def _split(table, parts, out_dir, stem):
    """`parts` CSV files of consecutive rows; every second one gzipped."""
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    files = []
    for k in range(parts):
        ext = ".csv.gz" if k % 2 else ".csv"
        path = os.path.join(out_dir, f"{stem}-{k + 1}{ext}")
        files.append(_write_csv(table.slice(bounds[k], bounds[k + 1] - bounds[k]), path))
    return files


def _fresh(base, out_dir, rng, rows=None):
    os.makedirs(out_dir, exist_ok=True)
    invs = []
    for t in CSV_TABLES:
        tab = _permute(pq.read_table(os.path.join(base, f"{t}.parquet")), rng)
        if rows is not None:
            tab = tab.slice(0, rows)
        files = (_split(tab, LINEITEM_FILES, out_dir, t) if t == "lineitem"
                 else [_write_csv(tab, os.path.join(out_dir, f"{t}.csv"))])
        invs.append(_invocation(t, files, rng))
    return invs


def csv_inputs(base, out_dir, seed):
    """Manifest entries for csv_fresh: the timed invocations, plus
    warm-up invocations over the first WARM_ROWS rows of each table."""
    rng = np.random.default_rng(seed)
    return {"invocations": _fresh(base, os.path.join(out_dir, "timed"), rng),
            "warm_invocations": _fresh(base, os.path.join(out_dir, "warm"), rng, WARM_ROWS)}


def board_inputs(base, out_dir, seed):
    """Every base table as parquet, rows in a seeded order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for t in ALL_TABLES:
        tab = _permute(pq.read_table(os.path.join(base, f"{t}.parquet")), rng)
        pq.write_table(tab, os.path.join(out_dir, f"{t}.parquet"))


def write_manifest(path, manifest):
    with open(path, "w") as f:
        json.dump(manifest, f)
