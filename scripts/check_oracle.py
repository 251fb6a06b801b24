#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate.

Runs each oracle_sql.json query in DuckDB over the same parquet tables
and compares against the Verify parquet dumps: sorted columns by name,
sorted rows, exact values (with a tiny float tolerance report so we can
see WHERE a hash-style compare would fail).

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pyarrow as pa
import pyarrow.compute as pc

sfdir, outdir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for f in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(f)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

def canon(tbl: pa.Table):
    """Columns sorted by name; rows as tuples, sorted by their cells'
    (is None, str(v)) keys. The keys are built column by column and
    sorted in Arrow: a string column is its own key and an integer
    column's decimal text equals str(); other types use Python str().
    UTF-8 byte order is code point order, so Arrow's stable sort with
    nulls last gives the same order as sorting the Python key tuples."""
    cols = sorted(tbl.column_names)
    vals, keys = [], []
    for c in cols:
        col = tbl.column(c)
        vals.append(col.to_pylist())
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            keys.append(col)
        elif pa.types.is_integer(col.type):
            keys.append(pc.cast(col, pa.string()))
        else:
            keys.append(pa.array([None if v is None else str(v) for v in vals[-1]],
                                 pa.string()))
    if cols:
        names = [f"k{i}" for i in range(len(cols))]
        order = pc.sort_indices(pa.table(keys, names=names),
                                sort_keys=[(k, "ascending") for k in names],
                                null_placement="at_end").to_pylist()
        rows = list(zip(*vals))
        rows = [rows[i] for i in order]
    else:
        rows = [()] * tbl.num_rows
    types = {c: str(tbl.schema.field(c).type) for c in cols}
    return cols, types, rows

def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b
    return a == b

n_pass = n_fail = 0
for name in sorted(oracle):
    qdir = os.path.join(outdir, name)
    if not os.path.isdir(qdir):
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
        print(f"WARN {name}: types {gt} vs {wt}")
    if len(gr) != len(wr):
        print(f"FAIL {name}: rows {len(gr)} vs {len(wr)}"); n_fail += 1; continue
    bad = None
    for i, (x, y) in enumerate(zip(gr, wr)):
        if not all(eq(a, b) for a, b in zip(x, y)):
            bad = (i, x, y); break
    if bad:
        print(f"FAIL {name}: row {bad[0]}: spark={bad[1]} duckdb={bad[2]}")
        n_fail += 1
    else:
        print(f"PASS {name} ({len(gr)} rows)"); n_pass += 1
print(f"\n{n_pass} pass, {n_fail} fail of {len(oracle)}")
sys.exit(1 if n_fail else 0)
