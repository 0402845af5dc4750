#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Runs each oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB against
the parquet fixture tables in <sfDir>, loads the Spark result parquet from
<verifyOutDir>/<name>/, and compares: column names, row count, and values
(columns sorted by name, rows sorted). Exact equality required.

The DuckDB connection may spill to a temporary directory (removed at
exit). The JSON report records each oracle's wall seconds as `oracle_s`,
so a slow oracle shows up without a rerun.
"""
import json
import shutil
import sys
import tempfile
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(con, rel_sql):
    df = con.execute(rel_sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")
    return df


def main(sf_dir, out_dir, json_out=None, only=None):
    spill = tempfile.mkdtemp(prefix="graft_duckdb_")
    try:
        return compare(sf_dir, out_dir, spill, json_out, only)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(sf_dir, out_dir, spill, json_out, only):
    # preserve_insertion_order=false lets order-free operators spill too;
    # canon() sorts every result, so row order never matters here
    con = duckdb.connect(config={"temp_directory": spill,
                                 "preserve_insertion_order": False})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:  # comma-separated query-name filter (local dev only)
        keep = set(only.split(","))
        oracle = {k: v for k, v in oracle.items() if k in keep}
    n_pass = n_fail = 0
    report = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()
        try:
            exp = canon(con, sql)
            oracle_s = round(time.monotonic() - t0, 3)
            got = canon(con, f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            rec = {"rows_match": len(exp) == len(got),
                   "schema_match": list(exp.columns) == list(got.columns),
                   "hash_match": False,
                   "spark_rows": len(got), "oracle_rows": len(exp), "err": None,
                   "oracle_s": oracle_s}
            report[name] = rec
            if list(exp.columns) != list(got.columns):
                print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
                n_fail += 1
                continue
            if len(exp) != len(got):
                print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
                n_fail += 1
                continue
            if not exp.equals(got):
                neq = (exp != got) & ~(exp.isna() & got.isna())
                bad = neq.any(axis=1)
                print(f"FAIL {name}: {int(bad.sum())}/{len(exp)} rows differ; first diffs:")
                print(exp[bad].head(3))
                print(got[bad].head(3))
                n_fail += 1
                continue
            rec["hash_match"] = True
            note = "  [WARN: 0-row match is vacuous]" if len(exp) == 0 else ""
            print(f"PASS {name} ({len(exp)} rows){note}")
            n_pass += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": -1,
                            "oracle_rows": -1, "err": str(e)[:200],
                            "oracle_s": round(time.monotonic() - t0, 3)}
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None,
                  sys.argv[4] if len(sys.argv) > 4 else None))
