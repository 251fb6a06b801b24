#!/usr/bin/env python3
"""Layered benchmark of the engine: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The inputs are the engine's standard
test tables, committed under perfbench/data and checked against
perfbench/data/SHA256SUMS on every run. The first run builds the engine
and the harness with sbt; later runs reuse the build (cached under
perfbench/work, keyed by a hash of the sources). The harness JVM runs
one workload in a closed loop with one client and writes a JSON record; this script checks correctness against DuckDB, derives
the metrics, writes the full result to perfbench/work/results/ and prints
one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A human-readable summary of every metric, including the
write_mix-only ones and failed_share, goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import oracle  # noqa: E402

DATA = os.path.join(HERE, "data")
# table directory each workload reads; bi_sf1 reads a graft.ScaleUp x10
# copy of the sf0.1 tables
WORKLOAD_DATA = {"bi_sf01": "sf0.1", "bi_sf1": "sf0.1", "llm_dedup": "sf0.01",
                 "write_mix": "sf0.1"}
CPUS = max(1, min(2, os.cpu_count() or 1))
HEAP = "3g"
DEADLINE_S = 170.0
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths, suffixes):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "work", "project"))
            for f in sorted(files):
                if f.endswith(suffixes):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness when their sources changed since the last
    build in this checkout; returns the classpath and the source stamp."""
    stamp = tree_digest([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")],
                        (".scala", ".java"))
    for f in ("build.sbt", os.path.join("perfbench", "build.sbt")):
        with open(os.path.join(ROOT, f), "rb") as fh:
            stamp += hashlib.sha256(fh.read()).hexdigest()[:8]
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            built = json.load(fh)
        if built["stamp"] == stamp:
            return built["classpath"], stamp
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip(), stamp


def java_cmd(cp, main, args):
    """The harness JVM. Its heap starts at full size with a fixed young
    generation, and it compiles with C1 only: with a growing heap and
    tiered compilation, each timed pass of a run ran faster than the one
    before, so the figures mixed warm-up into the measurement."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn384m", "-XX:+UseG1GC",
             "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
             f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"]
            + opens + ["-cp", cp, main] + args)


def run_java(cmd, log_path, timeout_s, cwd):
    """Run the harness JVM in its own process group; kill it on timeout."""
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            return None


def data_dir(name):
    """The committed table directory `name`, after checking every file in
    it against its digest in SHA256SUMS."""
    d = os.path.join(DATA, name)
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = [ln.split() for ln in fh if ln.strip()]
    for digest, rel in sums:
        if rel.startswith(name + "/"):
            with open(os.path.join(DATA, rel), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {rel} does not match SHA256SUMS")
    return d


def prepare(cp, stamp):
    """Inputs every workload shares: the tables, the oracle SQL of each
    query op, and DuckDB's answer to each (cached)."""
    bi, dedup = data_dir(WORKLOAD_DATA["bi_sf01"]), data_dir(WORKLOAD_DATA["llm_dedup"])
    sql_file = os.path.join(WORK, f"oracle-sql-{stamp}.json")
    if not os.path.exists(sql_file):
        log("exporting oracle SQL")
        rc = run_java(java_cmd(cp, "perfbench.Oracles", [sql_file, dedup, str(CPUS)]),
                      os.path.join(WORK, "oracles.log"), 600, WORK)
        if rc != 0:
            raise SystemExit("perfbench: oracle export failed")
    with open(sql_file) as fh:
        sqls = json.load(fh)
    oracle.answers(sqls["bi"], bi, WORK)
    oracle.answers(sqls["llm_dedup"], dedup, WORK)
    return sqls


def scaled_dir(cp, base, run_dir):
    d = os.path.join(WORK, "data", os.path.basename(base) + "-scaleup10")
    if not os.path.exists(os.path.join(d, "scaleup.json")):
        log("generating the x10 ScaleUp copy for bi_sf1")
        shutil.rmtree(d, ignore_errors=True)
        rc = run_java(java_cmd(cp, "perfbench.Scale", [base, d, "10", str(CPUS)]),
                      os.path.join(run_dir, "scaleup.log"), 600, run_dir)
        if rc != 0:
            raise SystemExit("perfbench: ScaleUp failed")
    return d


def tail_stat(values):
    """(value, percentile, samples) of the highest percentile with at
    least ten samples beyond it. Below 21 samples that percentile would
    not exceed the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n < 21:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def median(values):
    return statistics.median(values) if values else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources not found next to perfbench/")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    cp, stamp = build()
    sqls = prepare(cp, stamp)
    data = os.path.join(DATA, WORKLOAD_DATA[a.workload])
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    extra = []
    if a.workload == "bi_sf1":
        extra = ["--scaled", scaled_dir(cp, data, run_dir)]
    # preparation (build, inputs, oracle answers) is cached per checkout;
    # only the rest of a run counts against its deadline
    prep_s = time.time() - t_start

    rec_path = os.path.join(run_dir, "record.json")
    ref_dir = os.path.join(WORK, "reference", f"{a.workload}-{stamp}")
    args = ["--reference", ref_dir, "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", run_dir, "--out", rec_path,
            "--cpus", str(CPUS)] + extra
    t_jvm = time.time()
    rc = run_java(java_cmd(cp, "perfbench.Main", args), os.path.join(run_dir, "jvm.log"),
                  DEADLINE_S - (t_jvm - t_start - prep_s), run_dir)
    if rc != 0 or not os.path.exists(rec_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(rec_path) as fh:
        rec = json.load(fh)

    if a.workload == "write_mix":
        checks = oracle.check_write_mix(rec, data, run_dir)
    else:
        sql = sqls["llm_dedup" if a.workload == "llm_dedup" else "bi"]
        odata = extra[1] if extra else data
        checks = oracle.check_queries(rec, sql, odata, ref_dir, WORK)
    result = derive(a, rec, checks, data)
    result["env"] = dict(rec["env"], engine_source=stamp, git=git_state(),
                         jvm_s=round(time.time() - t_jvm, 3))
    out = os.path.join(WORK, "results", f"{tag}.json")
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    summarize(result, out)
    metrics = result["end_to_end"] if a.trace == 0 else result["per_layer"]
    sys.stdout.flush()
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))


def git_state():
    try:
        head = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True)
        if head.returncode != 0:
            return {"head": "unknown", "dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "build.sbt",
                                "perfbench"], cwd=ROOT, capture_output=True, text=True)
        return {"head": head.stdout.strip(), "dirty": bool(dirty.stdout.strip())}
    except OSError:
        return {"head": "unknown", "dirty": None}


def derive(a, rec, checks, data):
    samples = rec["samples"]
    bad_ops = set(checks["bad_ops"])
    bad_ids = set(checks["bad_op_ids"])

    def good(s):
        return s["ok"] and s["op"] not in bad_ops and s["id"] not in bad_ids

    attempted = len(samples) + len(rec["reference_failed"]) + checks["extra_checks"]
    failed = (sum(1 for s in samples if not good(s)) + len(rec["reference_failed"])
              + checks["extra_failed"])
    by_pass = {}
    for s in samples:
        by_pass.setdefault(s["pass"], []).append(s)
    pass_rates = [sum(1 for s in ss if good(s)) / sum(s["wall_s"] for s in ss)
                  for ss in by_pass.values()]
    reads = [s["wall_s"] for s in samples if s["kind"] in ("query", "read")]
    tail, pct, n_tail = tail_stat(reads)
    if a.workload == "write_mix":
        p50 = median(reads)
    else:
        # each query op runs once per pass: the median over ops of each
        # op's median wall time (a plain median over the samples falls in
        # the gap between the cheaper and the dearer queries)
        per_op = {}
        for s in samples:
            per_op.setdefault(s["op"], []).append(s["wall_s"])
        p50 = median([median(v) for v in per_op.values()])
    e2e = {
        "latency_p50_s": (p50, "s"),
        "ops_per_s": (median(pass_rates), "op/s"),
        "setup_s": (median([sum(st.values()) for st in rec["setup"]]), "s"),
    }
    tails = {"latency_tail_s": {"pct": pct, "samples": n_tail}}
    # a run has too few samples for a tail to gate on: reported, not gated
    extra = {"latency_tail_s": (tail, "s"), "failed_share": (failed / attempted, "ratio")}
    commits = [s["wall_s"] for s in samples if s["kind"] == "commit"]
    if a.workload == "write_mix":
        ctail, cpct, cn = tail_stat(commits)
        extra.update({
            "commit_p50_s": (median(commits), "s"),
            "commit_tail_s": (ctail, "s"),
            "write_rows_per_s": (checks["user_rows"] / sum(commits), "rows/s"),
            "bytes_stored_per_user_byte": (rec["table_bytes"] / rec["compact_bytes"], "ratio"),
        })
        tails["commit_tail_s"] = {"pct": cpct, "samples": cn}
    per_layer = {}
    if a.trace == 1:
        per_layer = layer_metrics(a.workload, a.seed, rec, checks, data)
        # the end-to-end metrics BENCHMARK.json does not gate
        for k, u in (("latency_tail_s", "s"), ("failed_share", "ratio"),
                     ("commit_p50_s", "s"), ("commit_tail_s", "s"),
                     ("write_rows_per_s", "rows/s"), ("bytes_stored_per_user_byte", "ratio")):
            per_layer[k] = extra.get(k, (0.0, u))
    op_means = {}
    for s in samples:
        op_means.setdefault(s["op"], []).append(s["wall_s"])
    return {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "end_to_end_extra": extra, "tail_percentile": tails,
        "per_layer": per_layer,
        "op_wall_mean_s": {k: statistics.mean(v) for k, v in op_means.items()},
        "passes": rec["passes"], "window_ms": rec["window_ms"], "phase_ms": rec["phase_ms"],
        "checks": {k: v for k, v in checks.items() if k != "bad_op_ids"},
        "setup": rec["setup"], "setup_cold": rec["setup_cold"],
        "contaminated_ops": sum(1 for s in samples if s["jvms"] > 0),
    }


def layer_metrics(workload, seed, rec, checks, data):
    samples = rec["samples"]
    tr = rec["trace"]
    n = max(1, tr["ops"])
    counters = tr["counters"]
    cpus = rec["env"]["cpus"]

    def total(k, ids=None):
        return sum(c.get(k, 0.0) for op, c in counters.items() if ids is None or op in ids)

    wall_ms = sum(s["wall_s"] for s in samples) * 1000.0
    plan_ms = total("plans.analysis_ms") + total("plans.optimization_ms") + total("plans.planning_ms")
    gap = sum(s["wall_s"] * 1000.0 - tr["job_cover_ms"][str(s["id"])] for s in samples)
    readers = {str(s["id"]) for s in samples if s["kind"] in ("query", "read")}
    result_rows = sum(s["rows"] for s in samples if str(s["id"]) in readers)
    m = {}
    for k in ("session.start_s", "tables.register_s"):
        m[k] = (median([st[k] for st in rec["setup"]]), "s")
    scale = 0.0
    if workload == "bi_sf1":
        with open(os.path.join(WORK, "data", "sf0.1-scaleup10", "scaleup.json")) as fh:
            scale = json.load(fh)["scaleup.generate_s"]
    m["scaleup.generate_s"] = (scale, "s")
    for k in ("plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms"):
        m[k] = (total(k) / n, "ms/op")
    m["plans.actions"] = (total("plans.actions") / n, "count/op")
    m["plans.share"] = (plan_ms / wall_ms, "ratio")
    for k in ("exec.jobs", "exec.stages", "exec.tasks"):
        m[k] = (total(k) / n, "count/op")
    for k in ("exec.task_run_ms", "exec.task_cpu_ms", "exec.sched_delay_ms"):
        m[k] = (total(k) / n, "ms/op")
    m["exec.core_busy_share"] = (total("exec.task_run_ms") / (wall_ms * cpus), "ratio")
    m["exec.driver_gap_ms"] = (gap / n, "ms/op")
    m["scan.bytes_read"] = (total("scan.bytes_read") / n, "B/op")
    m["scan.rows_read"] = (total("scan.rows_read") / n, "rows/op")
    m["scan.files_read"] = (total("scan.files_read") / n, "count/op")
    m["scan.rows_per_result_row"] = (
        total("scan.rows_read", readers) / result_rows if result_rows else 0.0, "ratio")
    m["shuffle.write_bytes"] = (total("shuffle.write_bytes") / n, "B/op")
    m["shuffle.read_bytes"] = (total("shuffle.read_bytes") / n, "B/op")
    m["shuffle.fetch_wait_ms"] = (total("shuffle.fetch_wait_ms") / n, "ms/op")
    m["spill.bytes"] = (total("spill.bytes") / n, "B/op")
    m["driver.result_bytes"] = (total("driver.result_bytes") / n, "B/op")
    d = rec.get("dedup")
    m["dedup.pairs_per_candidate"] = (d["pairs"] / d["candidates"] if d else 0.0, "ratio")
    for kd in ("insert", "update", "delete", "merge", "optimize", "vacuum"):
        w = [s["wall_s"] * 1000.0 for s in samples if s["op"] == kd]
        m[f"dml.commit_ms.{kd}"] = (statistics.mean(w) if w else 0.0, "ms")
    fs = checks.get("file_stats", {})
    m["dml.files_touched"] = (fs.get("touched_per_commit", 0.0), "count/commit")
    m["dml.files_written"] = (fs.get("written_per_commit", 0.0), "count/commit")
    m["dml.bytes_written_per_user_byte"] = (fs.get("bytes_written_per_user_byte", 0.0), "ratio")
    m["dml.live_files"] = (float(rec.get("live_files", 0)), "count")
    r = [s["wall_s"] * 1000.0 for s in samples if s["op"] == "refresh"]
    m["rollup.refresh_ms"] = (statistics.mean(r) if r else 0.0, "ms")
    m["jvm.gc_ms"] = (rec["gc_ms"] / n, "ms/op")
    m["jvm.heap_peak_mb"] = (rec["heap_peak_mb"], "MB")
    for layer in ("op", "dml", "query", "job", "stage"):
        m[f"self_ms.{layer}"] = (tr["self_ms"].get(layer, 0.0) / n, "ms/op")
    m["trace.overhead_share"] = (overhead(workload, seed, samples), "ratio")
    return m


def overhead(workload, seed, samples):
    """Tracing overhead against the untraced run of the same workload and
    seed in this checkout, else the latest untraced run of the workload:
    the median over ops of traced mean wall / untraced mean wall, minus
    one (0 when no untraced run exists yet)."""
    res = os.path.join(WORK, "results")
    same = os.path.join(res, f"{workload}-s{seed}-t0.json")
    runs = [os.path.join(res, f) for f in os.listdir(res)
            if f.startswith(workload + "-") and f.endswith("-t0.json")]
    if not runs:
        return 0.0
    with open(same if os.path.exists(same) else max(runs, key=os.path.getmtime)) as fh:
        base = json.load(fh).get("op_wall_mean_s", {})
    by = {}
    for s in samples:
        by.setdefault(s["op"], []).append(s["wall_s"])
    ratios = [statistics.mean(v) / base[k] for k, v in by.items() if base.get(k)]
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def summarize(result, path):
    log(f"{result['workload']} seed={result['seed']} trace={result['trace']}: "
        f"attempted={result['attempted']} failed={result['failed']} passes={result['passes']}")
    for group in ("end_to_end", "end_to_end_extra", "per_layer"):
        for k, (v, u) in sorted(result[group].items()):
            log(f"  {k:34s} {v:14.6g} {u}")
    tp = result["tail_percentile"]["latency_tail_s"]
    log(f"  latency_tail_s is p{tp['pct']:.1f} over {tp['samples']} samples")
    env = result["env"]
    if env.get("contaminated"):
        log(f"  CONTAMINATED run: {'; '.join(env['contamination'])}")
    log(f"  full result: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
