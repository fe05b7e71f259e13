#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 scripts/selfcheck.py <sfDir> <verifyOutDir> [artifactJson]
Runs each oracle_sql.json query in DuckDB with the sfDir parquet tables
registered as views, loads the Spark parquet result, sorts columns by name
and rows by all columns, and compares values. Byte-identical oracle SQL (a
query and its staged twin share one) runs once in DuckDB, and every Spark
output it gates compares against that one result (or fails on its error).

When artifactJson is given (normally CORRECTNESS_LOCAL.json at the repo
root), also writes the round's builder-produced correctness artifact: one
entry per verify output dir with {"rows_match","schema_match",
"values_match"} booleans (oracle-less queries get {"rows_gt_zero"}), so a
zeroed driver-side CORRECTNESS_r{N}.json can never cost a round its hard
signal (VERDICT r9 #1). graft.core.CorrectnessGate + its spec fail the
test suite when this file's key set drifts from SparkEntry.queries or any
boolean is false.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def oracle_result(con, memo, sql):
    """canon(DuckDB's result of `sql`), evaluated once per SQL text; a
    failed evaluation is remembered and raised again."""
    if sql not in memo:
        try:
            memo[sql] = canon(con.execute(sql).df())
        except Exception as e:
            memo[sql] = e
    if isinstance(memo[sql], Exception):
        raise memo[sql]
    return memo[sql]

def main(sf_dir, out_dir, artifact=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {}  # name -> dict of boolean checks
    memo = {}  # oracle SQL text -> its canon result or its exception
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{out_dir}/{name}"
        r = results[name] = {"rows_match": False, "schema_match": False,
                             "values_match": False}
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = canon(pd.read_parquet(spark_dir))
            want = oracle_result(con, memo, sql)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
        r["schema_match"] = list(got.columns) == list(want.columns)
        if not r["schema_match"]:
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1; continue
        r["rows_match"] = len(got) == len(want)
        if not r["rows_match"]:
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
            r["values_match"] = True
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        except AssertionError as e:
            msg = str(e).split("\n")[0:6]
            print(f"FAIL {name}: value mismatch: " + " | ".join(msg)); n_fail += 1
    # oracle-less queries (Q.noOracle): the weaker driver check is rows>0
    for spark_dir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(spark_dir.rstrip("/"))
        if name in results:
            continue
        try:
            n = len(pd.read_parquet(spark_dir))
        except Exception:
            n = 0
        results[name] = {"rows_gt_zero": n > 0}
        if n > 0:
            print(f"PASS {name} (rows-only, {n} rows)"); n_pass += 1
        else:
            print(f"FAIL {name}: rows-only check, 0 rows"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if artifact:
        payload = {"sf": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                   "queries": results}
        with open(artifact, "w") as f:
            json.dump(payload, f, sort_keys=True, separators=(",", ":"))
            f.write("\n")
        print(f"wrote {artifact} ({len(results)} queries)")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
