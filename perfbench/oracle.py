"""Correctness checks for benchmark runs, evaluated with DuckDB.

Query workloads: each op's reference result (collected once per engine
build, outside the timed window, and written to parquet by the harness) must
equal DuckDB running the op's `SparkEntry.oracleSql` text over the same
tables. Rows and columns are compared as `scripts/check_oracle.py` does:
columns sorted by name, rows sorted, values exactly equal. DuckDB's
canonical answer is cached per (SQL text, data directory), so only the
first run of a checkout pays for the oracle.

write_mix: the seeded op log is replayed in DuckDB. Every snapshot and
time-travel read must equal the replay at the version it read, and the
final version, reopened from a fresh session and written as one compact
parquet copy, must equal the replayed table.
"""
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq


def canon(tbl):
    cols = sorted(tbl.column_names)
    rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
    rows.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return cols, rows


def fingerprint(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def connect(data, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            path = os.path.join(data, f)
            if os.path.isdir(path):  # written by Spark (the ScaleUp copy)
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def answers(sqls, data, work):
    """DuckDB's canonical answer to each oracle SQL over `data`, computed
    once per (SQL text, data directory) and cached under `work`."""
    cache_path = os.path.join(work, "oracle_cache.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    keys = {name: hashlib.sha256((data + "\0" + sql).encode()).hexdigest()
            for name, sql in sqls.items()}
    missing = [n for n in sorted(sqls) if keys[n] not in cache]
    if missing:
        con = connect(data, threads=os.cpu_count() or 1)
        for name in missing:
            try:
                cache[keys[name]] = fingerprint(*canon(con.execute(sqls[name]).arrow()))
            except duckdb.Error as e:
                cache[keys[name]] = f"error: {e}"
        with open(cache_path + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(cache_path + ".tmp", cache_path)
    return {n: cache[k] for n, k in keys.items()}


def check_queries(rec, sqls, data, ref_dir, work):
    want = answers(sqls, data, work)
    bad = []
    for name in sorted(sqls):
        ref = os.path.join(ref_dir, name)
        if name in rec["reference_failed"] or not os.path.isdir(ref):
            continue
        if fingerprint(*canon(pq.read_table(ref))) != want[name]:
            bad.append(name)
    return {"bad_ops": bad, "bad_op_ids": [], "extra_checks": 0, "extra_failed": 0,
            "oracle_checked": len(sqls) - len(rec["reference_failed"])}


AGG = ("SELECT l_returnflag, count(*), sum(CAST(l_quantity AS DECIMAL(18,2))), "
       "sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM t {where} GROUP BY l_returnflag")


def agg(con, where=""):
    rows = con.execute(AGG.format(where=f"WHERE {where}" if where else "")).fetchall()
    return sorted("|".join(str(x) for x in r) for r in rows)


def check_write_mix(rec, data, run_dir):
    con = connect(data)
    con.execute(f"CREATE TABLE t AS {rec['base_sql']}")
    tmpl = rec["row_sql"]
    versions = {rec["base_version"]: agg(con)}
    bad_ids, user_rows = [], 0
    affected_by_id = {}

    def src(e):
        sel = tmpl.replace("{salt}", str(e["salt"]))
        return f"SELECT {sel} FROM (SELECT range AS k FROM range({e['lo']}, {e['hi']}))"

    for e in rec["dml_log"]:
        op = e["op"]
        if not e["ok"]:
            bad_ids.append(e["op_id"])
            continue
        affected = 0
        if op == "insert":
            affected = e["hi"] - e["lo"]
            con.execute(f"INSERT INTO t {src(e)}")
        elif op in ("update", "delete"):
            affected = con.execute(f"SELECT count(*) FROM t WHERE {e['cond']}").fetchone()[0]
            if op == "update":
                con.execute(f"UPDATE t SET l_quantity = {e['set']} WHERE {e['cond']}")
            else:
                con.execute(f"DELETE FROM t WHERE {e['cond']}")
        elif op == "merge":
            affected = e["hi"] - e["lo"]
            con.execute(f"CREATE OR REPLACE TEMP TABLE src AS {src(e)}")
            con.execute("DELETE FROM t WHERE k IN (SELECT k FROM src)")
            con.execute("INSERT INTO t SELECT * FROM src")
        elif op.startswith("read"):
            want = versions.get(e["version"]) if op == "read_travel" else agg(con, e["where"])
            if want is None or want != sorted(e["result"]):
                bad_ids.append(e["op_id"])
            continue
        if op in ("insert", "update", "delete", "merge", "optimize"):
            versions[e["version"]] = agg(con)
            affected_by_id[e["op_id"]] = affected
            user_rows += affected

    final = pq.read_table(os.path.join(run_dir, "final"))
    want = con.execute("SELECT * FROM t").arrow()
    final_ok = (fingerprint(*canon(final)) == fingerprint(*canon(want))
                and rec["reopened_version"] == rec["final_version"])
    extra_failed = (0 if final_ok else 1) + (0 if rec["rollup_consistent"] else 1)
    checks = {"bad_ops": [], "bad_op_ids": bad_ids, "extra_checks": 2,
              "extra_failed": extra_failed, "final_table_ok": final_ok,
              "rollup_ok": rec["rollup_consistent"], "user_rows": user_rows,
              "reads_wrong": len(bad_ids)}
    if rec.get("version_files"):
        checks["file_stats"] = file_stats(rec, affected_by_id, final.num_rows)
    return checks


def file_stats(rec, affected_by_id, live_rows):
    """Files touched and written per traced commit, and bytes written per
    user byte (a user byte is one live row's share of the compact copy)."""
    vf = {int(v): dict(files) for v, files in rec["version_files"].items()}
    touched = written = bytes_written = rows = commits = 0
    for e in rec["dml_log"]:
        v = e.get("version")
        if e["op_id"] not in affected_by_id or v not in vf or (v - 1) not in vf:
            continue
        before, after = vf[v - 1], vf[v]
        touched += len(set(before) - set(after))
        new = set(after) - set(before)
        written += len(new)
        bytes_written += sum(after[f] for f in new)
        rows += affected_by_id[e["op_id"]]
        commits += 1
    row_bytes = rec["compact_bytes"] / live_rows if live_rows else 0.0
    return {"touched_per_commit": touched / commits if commits else 0.0,
            "written_per_commit": written / commits if commits else 0.0,
            "bytes_written_per_user_byte":
                bytes_written / (rows * row_bytes) if rows and row_bytes else 0.0,
            "commits": commits}
