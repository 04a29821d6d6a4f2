#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate (NOT part of the library).

Runs graft.Verify (already-compiled classes) at a given SF dir, then replays
each oracle SQL in DuckDB over the same parquet tables and compares:
column sets, row counts, and values (columns sorted by name, rows sorted by
all columns, floats rounded to 9 significant digits like a hash would see).

Usage: python3 tools/selfverify.py [sfdir] [only_query ...]
"""
import json, math, subprocess, sys, glob, os

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
OUT = "/tmp/graft_verify"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def run_verify():
    # GRAFT_VERIFY_CLASSES: point a long-running verify at a class
    # SNAPSHOT so concurrent recompiles can't corrupt lazy class loading
    # (tools/runmain.sh reads it as GRAFT_BENCH_CLASSES)
    classes = os.environ.get("GRAFT_VERIFY_CLASSES",
                             f"{REPO}/target/scala-2.13/classes")
    cmd = [f"{REPO}/tools/runmain.sh", "graft.Verify", SF, OUT] + \
          (["|".join(sorted(ONLY))] if ONLY else [])
    env = dict(os.environ, SPARK_GRAFT_CPUS="8", SPARK_DRIVER_MEM="8g",
               GRAFT_BENCH_CLASSES=classes)
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  !", line[:300])
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)

def norm(df):
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                              else float(f"{v:.9g}"))
        else:
            df[c] = df[c].map(lambda v: None if v is None or v != v else str(v))
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df

def main():
    import duckdb
    run_verify()
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    con = duckdb.connect()
    for t in glob.glob(f"{SF}/*.parquet"):
        name = os.path.basename(t)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    passed = failed = nosql = 0
    names = sorted(oracle) if not ONLY else [n for n in sorted(oracle) if n in ONLY]
    spark_dirs = {os.path.basename(d) for d in glob.glob(f"{OUT}/*") if os.path.isdir(d)}
    for name in sorted(spark_dirs - set(oracle)):
        if not ONLY or name in ONLY:
            print(f"  ~ {name}: no oracle (rows-only check)")
            nosql += 1
    for name in names:
        sql = oracle[name]
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"  X {name}: ORACLE SQL ERROR: {e}")
            failed += 1
            continue
        files = glob.glob(f"{OUT}/{name}/*.parquet")
        if not files:
            print(f"  X {name}: spark output missing")
            failed += 1
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        if sorted(got.columns) != sorted(exp.columns):
            print(f"  X {name}: columns differ spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
            failed += 1
            continue
        if len(got) != len(exp):
            print(f"  X {name}: rows differ spark={len(got)} oracle={len(exp)}")
            failed += 1
            continue
        g, e = norm(got), norm(exp)
        if g.equals(e):
            print(f"  ✓ {name} ({len(got)} rows)")
            passed += 1
        else:
            neq = (g != e) & ~(g.isna() & e.isna())
            bad = neq.any(axis=1)
            print(f"  X {name}: {int(bad.sum())}/{len(g)} rows differ; first:")
            idx = bad.idxmax()
            print("    spark :", g.loc[idx].to_dict())
            print("    oracle:", e.loc[idx].to_dict())
            failed += 1
    print(f"== {passed} passed, {failed} failed, {nosql} rows-only ==")
    sys.exit(1 if failed else 0)

main()
