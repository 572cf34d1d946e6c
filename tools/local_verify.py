#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (builder-side tool, not
part of the Scala library): run graft.Verify at a given sf, execute each
oracle SQL in DuckDB over the same parquet tables, and compare
rows/schema/values strictly (rows sorted by all columns; exact value
equality, including doubles).

SPARK_GRAFT_ONLY=q_a,q_b (read by graft.Verify too) selects a subset: only
the selected queries are dumped, compared and counted, and a selected query
with no output fails. Unset, every query is."""
import json, math, subprocess, sys, glob, os

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
RUN_SPARK = os.environ.get("SKIP_SPARK", "") != "1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ONLY = {q.strip() for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")
        if q.strip()} or None

if RUN_SPARK:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        capture_output=True, text=True, cwd=REPO)
    sys.stdout.write("\n".join(r.stdout.splitlines()[-3:]) + "\n")
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

import duckdb
con = duckdb.connect()
for p in glob.glob(f"{SF_DIR}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
results = {}
# a selected query that is not oracled still fails without output
for name in sorted((ONLY or set()) - set(oracle)):
    if not glob.glob(f"{OUT}/{name}/*.parquet"):
        results[name] = {"status": "NO_SPARK_OUTPUT"}
for name in sorted(n for n in oracle if ONLY is None or n in ONLY):
    res_dir = f"{OUT}/{name}"
    parts = glob.glob(f"{res_dir}/*.parquet")
    if not parts:
        results[name] = {"status": "NO_SPARK_OUTPUT"}
        continue
    try:
        spark_rel = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
        duck_rel = con.sql(oracle[name])
    except Exception as ex:
        results[name] = {"status": f"ORACLE_SQL_ERROR: {ex}"}
        continue
    s_cols = sorted(zip(spark_rel.columns, map(str, spark_rel.types)))
    d_cols = sorted(zip(duck_rel.columns, map(str, duck_rel.types)))
    # The DRIVER's comparator sorts rows with pandas sort_values, which
    # crashes on array-typed cells ("unhashable type: numpy.ndarray",
    # CORRECTNESS_r02 q_x_quantiles / q_x_mm_features). Mirror that as a
    # hard failure so array-output queries are caught pre-commit.
    arr_cols = [c for c, t in s_cols + d_cols if "[]" in t or t.startswith("STRUCT")]
    if arr_cols:
        results[name] = {"status": "DRIVER_UNHASHABLE_ARRAY_COLUMN",
                         "columns": sorted(set(arr_cols))}
        continue
    entry = {}
    entry["schema_match"] = s_cols == d_cols
    if not entry["schema_match"]:
        entry["spark_schema"] = s_cols
        entry["duck_schema"] = d_cols
    cols_s = ", ".join(f'"{c}"' for c, _ in s_cols)
    sd = spark_rel.df()[[c for c, _ in s_cols]]
    dd = duck_rel.df()[[c for c, _ in d_cols]] if entry["schema_match"] else None
    entry["rows_spark"] = len(sd)
    entry["rows_duck"] = len(dd) if dd is not None else None
    entry["rows_match"] = dd is not None and len(sd) == len(dd)
    if entry["rows_match"]:
        import pandas as pd
        def canon(df):
            # NO array-to-tuple coercion here: the driver does none, and
            # the mirror must fail exactly where the driver fails
            return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
        a, b = canon(sd), canon(dd)
        neq = []
        for c in a.columns:
            av, bv = a[c], b[c]
            try:
                same = av.equals(bv)
            except Exception:
                same = False
            if not same:
                # elementwise with NaN-safe compare
                bad = 0
                first = None
                for i, (x, y) in enumerate(zip(av, bv)):
                    eq = (x == y) or (x is None and y is None)
                    try:
                        if not eq and isinstance(x, float) and isinstance(y, float):
                            eq = (math.isnan(x) and math.isnan(y)) or x == y
                    except Exception:
                        pass
                    if not eq:
                        bad += 1
                        if first is None:
                            first = (i, repr(x), repr(y))
                if bad:
                    neq.append((c, bad, first))
        entry["hash_match"] = not neq
        if neq:
            entry["mismatch"] = [list(x) for x in neq[:3]]
    else:
        entry["hash_match"] = False
    results[name] = entry

ok = sum(1 for e in results.values()
         if e.get("schema_match") and e.get("rows_match") and e.get("hash_match"))
print(f"\n=== {ok}/{len(results)} oracled queries match ===")
for name, e in results.items():
    flag = "OK " if (e.get("schema_match") and e.get("rows_match") and e.get("hash_match")) else "FAIL"
    print(f"[{flag}] {name} rows={e.get('rows_spark')} "
          + ("" if flag == "OK " else json.dumps({k: v for k, v in e.items() if k not in ('rows_spark',)}, default=str)[:600]))
# rows-only queries (no oracle): report row counts
for d in sorted(glob.glob(f"{OUT}/q_*")):
    name = os.path.basename(d)
    if (name not in oracle and os.path.isdir(d)
            and (ONLY is None or name in ONLY)):
        try:
            n = con.execute(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            print(f"[ROWS-ONLY] {name} rows={n}")
        except Exception as ex:
            print(f"[ROWS-ONLY] {name} ERROR {ex}")
sys.exit(0 if ok == len(results) else 2)
