#!/usr/bin/env python3
"""Runs one benchmark workload end to end and prints its metrics.

    python3 perfbench/run.py --workload tx_lifecycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The steps:

1. Build the library and the benchmark program in perfbench/ with sbt, unless the
   sources are unchanged since the last build.
2. Check the input tables in perfbench/testdata/sf0.001 (a copy of the
   repository's sf 0.001 harness tables) against their row counts and
   SHA-256 sums, and stop if any differs.
3. Start one JVM (perfbench.Main): session, oracle pass, warm-up passes,
   timed passes.
4. Compare every query's oracle-pass output with its DuckDB oracle SQL.
5. Print each metric as `[perfbench] <workload> <metric> <value> <unit>`,
   write the stamped artifact to perfbench/.results/, and print the
   result as one JSON object on the last line.

`--workload all` runs every workload in turn. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUT = os.path.join(HERE, "testdata", "sf0.001")
RESULTS = os.path.join(HERE, ".results")
LAUNCH = os.path.join(HERE, "target", "launch")
CPUS = "4"
JVM = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
RUN_LIMIT_S = 170

# The harness tables every workload reads: rows (FIXTURES.md, part B) and
# SHA-256 of each parquet file.
INPUT_TABLES = {
    "region": (5, "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0"),
    "nation": (25, "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696"),
    "customer": (150, "14cc0a87578999fcb79267bfa2c900f0104df23785151a7274297d1aea7236d4"),
    "supplier": (10, "6a61c8ceec13a7bf75e5ff84d6ac43ff5002921a3dba023cae109f2239d32073"),
    "part": (200, "fa2e28382bd1552ae9268cd5a243552ab43f7de7dadee5a32be3e82c30df8aa8"),
    "orders": (1500, "1c313e7a580f267933bc45c636774722dfeaad27d0b9c2f09192ce9beddd1c76"),
    "lineitem": (6000, "104501c514a4f24eb4ef0431eeb7cc95dd2b78b516d01b9d7be62c9132165c52"),
    "events": (1000, "7fd4b9d6277e78d4552e69475995d203a9e38aa4cc914d87cb79b0f9bd145a55"),
    "documents": (500, "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc"),
    "embeddings": (500, "a3177c59491c14cc2ad432cd53bedaa8040fedf382f4cdb26e0563ec89179a41"),
}

# Each workload: its queries (SparkEntry.queries names), its untimed
# warm-up passes after the oracle pass (until pass times level off), and
# its minimum number of timed passes. README.md says why each was chosen.
WORKLOADS = {
    "tx_lifecycle": {
        "warm_passes": 3, "min_passes": 3,
        "queries": ["q_x_merge_into", "q_x_constraints", "q_x_time_travel"]},
    "text_fanout": {
        "warm_passes": 6, "min_passes": 4,
        "queries": ["q_x_span_decontaminate", "q_x_chunk_dedup", "q_x_text_winnow",
                    "q_x_text_repetition"]},
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("query_tail_s", "s"), ("heap_retained_mb", "MB")]
# Jobs are attributed to TxTable (the commit path), to the final write of
# the returned frame ("action"), or to "other": every other graft module,
# query closures and unattributed jobs. A module of its own for each would
# add metrics that read 0 in every run of a workload that does not use it.
MODULES = ["TxTable", "action", "other"]
PER_LAYER = [
    ("catalyst.actions", "count"), ("catalyst.optimizer_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.failed_tasks", "count"), ("scheduler.idle_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "fraction"), ("shuffle.read_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("spill_mb", "MB"), ("scan.input_mb", "MB"),
    ("io.written_mb", "MB"),
] + [(f"{m}.{k}", u) for m in MODULES for k, u in (("jobs", "count"), ("job_s", "s"))] + [
    ("query.eager_s", "s"), ("query.action_s", "s"), ("trace.overhead_s", "s"),
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- build
def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Builds with sbt when the sources differ from the last build; returns
    the seconds spent building."""
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    log("building the library and the benchmark program with sbt")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFiles"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("sbt build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t0


# ----------------------------------------------------------------- data
def check_input():
    """Stops the run unless every input table has its row count (from the
    parquet footer) and its SHA-256 sum, so a changed input is never timed."""
    import pyarrow.parquet as pq
    for t, (rows, sha) in INPUT_TABLES.items():
        f = os.path.join(INPUT, f"{t}.parquet")
        if not os.path.isfile(f):
            fail(f"input table {f} is missing")
        n = pq.ParquetFile(f).metadata.num_rows
        if n != rows:
            fail(f"input table {f} has {n} rows, expected {rows}")
        with open(f, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != sha:
                fail(f"input table {f} differs from the checked-in copy")


# --------------------------------------------------------------- oracle
def oracle_check(queries, in_dir, out_dir):
    """Strict comparison of each written output with its DuckDB oracle:
    same column names and types, same row count, and equal values after
    sorting rows by every column (doubles compared exactly). Returns
    {query: None if it matches, else the reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in INPUT_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    return {q: _compare(con, os.path.join(out_dir, q), sqls.get(q)) for q in queries}


def _compare(con, res_dir, sql):
    if sql is None:
        return "no oracle SQL"
    if not glob.glob(f"{res_dir}/*.parquet"):
        return "no output"
    try:
        s_rel = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
        d_rel = con.sql(sql)
    except Exception as e:
        return f"oracle SQL error: {e}"
    s_cols = sorted(zip(s_rel.columns, map(str, s_rel.types)))
    d_cols = sorted(zip(d_rel.columns, map(str, d_rel.types)))
    if s_cols != d_cols:
        return f"schema {s_cols} != {d_cols}"
    names = [c for c, _ in s_cols]
    a = s_rel.df()[names]
    b = d_rel.df()[names]
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    a = a.sort_values(names, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(names, kind="mergesort").reset_index(drop=True)
    for c in names:
        if a[c].equals(b[c]):
            continue
        for i, (x, y) in enumerate(zip(a[c], b[c])):
            same = x == y or (x is None and y is None) or (
                isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y))
            if not same:
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


# -------------------------------------------------------------- metrics
def end_to_end(raw):
    """End-to-end metrics of an untraced run, and notes printed beside them."""
    passes = raw["passes"]
    execs = [e["eager_s"] + e["action_s"] for e in raw["execs"]]
    # a run has 9 to 24 timed executions, too few for a high percentile to
    # have ten beyond it; the tail is each pass's slowest execution instead
    slowest = {}
    for e in raw["execs"]:
        slowest[e["pass"]] = max(slowest.get(e["pass"], 0.0), e["eager_s"] + e["action_s"])
    m = {"setup_s": raw["setup_s"],
         "pass_s": statistics.median(p["wall_s"] for p in passes),
         "query_p50_s": statistics.median(execs),
         "query_tail_s": statistics.median(slowest.values()),
         "heap_retained_mb": raw["heap_retained_mb"]}
    notes = {"setup_s": f"session {raw['session_s']:.2f} s, oracle pass {raw['oracle_pass_s']:.2f} s,"
                        f" then {raw['warm_execs']} warm-up executions",
             "pass_s": f"median of {len(passes)} passes",
             "query_p50_s": f"median of {len(execs)} executions",
             "query_tail_s": f"median over {len(passes)} passes of the slowest execution"}
    return m, notes


def per_layer(raw):
    """Per-layer metrics as means per traced pass, plus each query's median
    latency over the traced passes (printed and kept in the artifact)."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    n = len(traced)
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    for p in traced:
        for k, v in p["layers"].items():
            kind = k.rpartition(".")[2]
            if k in m:
                m[k] += v / n
            elif kind in ("jobs", "job_s"):
                m[f"other.{kind}"] += v / n
    wall = sum(p["wall_s"] for p in traced) / n
    m["executor.busy_frac"] = m["executor.run_s"] / (int(CPUS) * wall)
    m["io.written_mb"] = sum(p["written_mb"] for p in traced) / n
    tex = [e for e in raw["execs"] if e["traced"]]
    m["query.eager_s"] = sum(e["eager_s"] for e in tex) / n
    m["query.action_s"] = sum(e["action_s"] for e in tex) / n
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in plain))
    per_query = {}
    for e in tex:
        per_query.setdefault(e["query"], []).append(e["eager_s"] + e["action_s"])
    return m, {f"{q}_s": statistics.median(v) for q, v in per_query.items()}


# ------------------------------------------------------------------ run
def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def run_workload(name, seed, seconds, trace, t0):
    w = WORKLOADS[name]
    check_input()
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "oracle"):
        os.makedirs(os.path.join(work, d))
    result = os.path.join(work, "result.json")
    cp = open(os.path.join(LAUNCH, "classpath")).read().strip()
    jvm_opts = [l for l in open(os.path.join(LAUNCH, "jvm-options")).read().split("\n") if l]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = ([java] + jvm_opts + JVM + [f"-Djava.io.tmpdir={work}/tmp",
                                f"-Dspark.local.dir={work}/local", "-cp", cp, "perfbench.Main",
                                "--queries", ",".join(w["queries"]), "--input", INPUT,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(trace), "--cpus", CPUS,
                                "--warm-passes", str(w["warm_passes"]),
                                "--min-passes", str(w["min_passes"]),
                                "--t0-ms", str(int(t0 * 1000)),
                                "--oracle-out", f"{work}/oracle", "--result", result])
    load_pre = os.getloadavg()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    load_post = os.getloadavg()
    jvm_s = time.time() - t0
    if rc != 0 or not os.path.exists(result):
        print(open(os.path.join(work, "jvm.log")).read()[-4000:], file=sys.stderr)
        fail(f"{name}: JVM exited with {rc}")
    raw = json.load(open(result))
    mismatches = {q: r for q, r in
                  oracle_check(w["queries"], INPUT, f"{work}/oracle").items() if r}
    shutil.rmtree(work, ignore_errors=True)
    check_s = time.time() - t0 - jvm_s

    for q in raw["oracle_failed"]:
        mismatches.setdefault(q, "failed in the oracle pass")
    timed_failed = sum(1 for e in raw["execs"] if not e["ok"])
    attempted = len(w["queries"]) + int(raw["warm_execs"]) + len(raw["execs"])
    failed = len(mismatches) + int(raw["warm_failed"]) + timed_failed
    stamp = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
             "cpus": int(raw["cpus"]), "master": raw["master"], "load_pre": list(load_pre),
             "load_post": list(load_post), "commit": git_commit(),
             "spark_version": raw["spark_version"], "java_version": raw["java_version"],
             "input": os.path.relpath(INPUT, ROOT),
             "queries": w["queries"], "jvm_s": jvm_s, "oracle_check_s": check_s}
    log(" ".join(f"{k}={v}" for k, v in stamp.items()
                 if k not in ("queries", "jvm_s", "oracle_check_s")))
    for q, why in sorted(mismatches.items()):
        log(f"{name} oracle MISMATCH {q}: {why}")
    log(f"{name} oracle {len(w['queries']) - len(mismatches)}/{len(w['queries'])} match; "
        f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} executions)")
    if trace:
        metrics, per_query = per_layer(raw)
        notes, units = {}, dict(PER_LAYER)
        for k, v in per_query.items():
            log(f"{name} {k} {v:.4f} s (median latency in the traced passes)")
    else:
        metrics, notes = end_to_end(raw)
        per_query, units = {}, dict(END_TO_END)
    for k, v in metrics.items():
        log(f"{name} {k} {v:.4f} {units[k]}" + (f" ({notes[k]})" if k in notes else ""))
    os.makedirs(RESULTS, exist_ok=True)
    artifact = dict(stamp, attempted=attempted, failed=failed, mismatches=mismatches,
                    metrics=metrics, per_query=per_query, raw=raw)
    with open(os.path.join(RESULTS, f"{name}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"library sources not found under {ROOT}/src; run from a full checkout")
    t0 += ensure_built()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    for name in names:
        results[name] = run_workload(name, a.seed, a.seconds, a.trace, t0)
        t0 = time.time()
    if len(names) == 1:
        out = results[names[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
