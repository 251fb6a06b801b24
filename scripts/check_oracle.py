#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Runs each oracle_sql.json query in DuckDB over the same parquet tables
and compares it against the Verify parquet dumps: columns sorted by
name, exact values, arrow types reported when they differ. Two modes:

- default: rows sorted on both sides, cells compared with Python `==`;
- --stored-order: rows in the order Verify stored them, NaN equal to
  NaN. The driver's hash depends on row order, so a query whose output
  order is not fully determined can pass the sorted compare and still
  fail at the gate.

Usage: python3 scripts/check_oracle.py [--stored-order] <sfDir> <verifyOutDir> [name-prefix,...]
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pyarrow as pa
import pyarrow.compute as pc

args = sys.argv[1:]
stored = "--stored-order" in args
if stored:
    args.remove("--stored-order")
sfdir, outdir = args[0], args[1]
keep = args[2].split(",") if len(args) > 2 else None

con = duckdb.connect()
for f in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(f)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
names = [n for n in sorted(oracle) if not keep or any(n.startswith(p) for p in keep)]

def sort_rows(cols, vals):
    """Rows as tuples, sorted by their cells' (is None, str(v)) keys.
    The keys are built column by column and sorted in Arrow: a string
    column is its own key and an integer column's decimal text equals
    str(); other types use Python str(). UTF-8 byte order is code point
    order, so Arrow's stable sort with nulls last gives the same order
    as sorting the Python key tuples."""
    keys = []
    for col, v in zip(cols, vals):
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            keys.append(col)
        elif pa.types.is_integer(col.type):
            keys.append(pc.cast(col, pa.string()))
        else:
            keys.append(pa.array([None if x is None else str(x) for x in v], pa.string()))
    names = [f"k{i}" for i in range(len(cols))]
    order = pc.sort_indices(pa.table(keys, names=names),
                            sort_keys=[(k, "ascending") for k in names],
                            null_placement="at_end").to_pylist()
    rows = list(zip(*vals))
    return [rows[i] for i in order]

def canon(tbl: pa.Table):
    """Columns sorted by name; rows as tuples, in stored order or sorted."""
    cols = sorted(tbl.column_names)
    vals = [tbl.column(c).to_pylist() for c in cols]
    if not cols:
        rows = [()] * tbl.num_rows
    elif stored:
        rows = list(zip(*vals))
    else:
        rows = sort_rows([tbl.column(c) for c in cols], vals)
    types = {c: str(tbl.schema.field(c).type) for c in cols}
    return cols, types, rows

def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if stored and isinstance(a, float) and isinstance(b, float):
        return a == b or (a != a and b != b)
    return a == b

n_pass = n_fail = 0
for name in names:
    qdir = os.path.join(outdir, name)
    if not glob.glob(os.path.join(qdir, "*.parquet")):
        print(f"FAIL {name}: no spark output"); n_fail += 1; continue
    got = pq.read_table(qdir)
    try:
        want = con.execute(oracle[name]).arrow()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}"); n_fail += 1; continue
    gc, gt, gr = canon(got)
    wc, wt, wr = canon(want)
    if gc != wc:
        print(f"FAIL {name}: columns {gc} vs {wc}"); n_fail += 1; continue
    if gt != wt:
        print(f"WARN {name}: types " + ", ".join(
            f"{c}: {gt[c]} vs {wt[c]}" for c in gc if gt[c] != wt[c]))
    if len(gr) != len(wr):
        print(f"FAIL {name}: rows {len(gr)} vs {len(wr)}"); n_fail += 1; continue
    bad = next(((i, x, y) for i, (x, y) in enumerate(zip(gr, wr))
                if not all(eq(a, b) for a, b in zip(x, y))), None)
    if bad:
        i, x, y = bad
        diffc = [c for c, a, b in zip(gc, x, y) if not eq(a, b)]
        print(f"FAIL {name}: row {i} cols {diffc}:\n  spark ={x}\n  duckdb={y}")
        n_fail += 1
    else:
        note = ", stored order" if stored else ""
        print(f"PASS {name} ({len(gr)} rows{note})"); n_pass += 1
print(f"\n{n_pass} pass, {n_fail} fail of {len(names)}")
sys.exit(1 if n_fail else 0)
