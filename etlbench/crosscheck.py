#!/usr/bin/env python3
"""Cross-check recorded op results against a DuckDB oracle, then write the
expected digests the benchmark checks every op against.

Usage (from the repository root):

    python3 etlbench/run.py --record /tmp/rec      # run every op once
    python3 etlbench/crosscheck.py /tmp/rec        # compare with DuckDB
    python3 etlbench/crosscheck.py /tmp/rec --write

Registry queries (`query:<name>`) are compared with their
`SparkEntry.oracleSql` entry through tools/check.py's canonical form:
columns sorted by name, rows sorted, exact equality. Daily-job days
(`day:<date>`) are compared with the rollup below, recomputed from the
fixture's lineitem and orders tables. With --write, and only if every op
passes, the recorded digests become etlbench/expected.tsv.
"""
import glob
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check import TABLES, canon  # noqa: E402  the repository's oracle compare

# One day of the daily job: the insights rows of that order date (the
# derivation in graft.etl.FbInsightsSource), joined to the day's
# currencylayer rate (graft.etl.RatesSource.rateFor) and rolled up by
# campaign, money summed in exact decimals.
DAY_SQL = """
WITH f AS (
  SELECT CAST(o.o_orderdate AS DATE) AS date,
         'c-' || CAST(l.l_partkey % 100 AS VARCHAR) AS campaign_id,
         'campaign ' || CAST(l.l_partkey % 100 AS VARCHAR) AS campaign_name,
         CAST(floor(l.l_quantity) AS BIGINT) AS clicks,
         CAST(floor(l.l_quantity) AS BIGINT) * 100 + l.l_linenumber AS impressions,
         l.l_extendedprice AS spend
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
r AS (
  SELECT date, CAST(20 AS DOUBLE)
           + CAST((day(date) * 37 + month(date) * 11) % 100 AS DOUBLE) / CAST(100 AS DOUBLE)
           AS rate
  FROM (SELECT DISTINCT date FROM f))
SELECT f.date, campaign_id, campaign_name,
       CAST(sum(clicks) AS BIGINT) AS clicks,
       CAST(sum(impressions) AS BIGINT) AS impressions,
       sum(CAST(spend AS DECIMAL(18, 2))) AS spend,
       sum(CAST(spend * rate AS DECIMAL(18, 4))) AS spend_uah
FROM f JOIN r ON f.date = r.date
WHERE f.date = DATE '{day}'
GROUP BY ALL
"""


def same(exp, got):
    if list(exp.columns) != list(got.columns):
        return f"columns: oracle {list(exp.columns)} engine {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows: oracle {len(exp)} engine {len(got)}"
    if not exp.equals(got):
        bad = ((exp != got) & ~(exp.isna() & got.isna())).any(axis=1)
        return f"{int(bad.sum())}/{len(exp)} rows differ"
    return None


def main(rec, write):
    fixture = open(os.path.join(rec, "fixture")).read().strip()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    lines, failed = [], 0
    for tsv in sorted(glob.glob(os.path.join(rec, "*", "*.tsv"))):
        wdir = os.path.dirname(tsv)
        oracle = {}
        for f in glob.glob(os.path.join(wdir, "*.oracle.json")):
            oracle.update(json.load(open(f)))
        for line in open(tsv):
            op, rows, _ = line.rstrip("\n").split("\t")
            kind, _, arg = op.partition(":")
            if kind == "query":
                sql = oracle.get(arg)
            elif kind == "day":
                sql = DAY_SQL.format(day=arg)
            else:
                sql = None
            res = os.path.join(wdir, "results", op.replace(":", "_"))
            if sql is None:
                err = "no oracle"
            else:
                try:
                    err = same(canon(con, sql),
                               canon(con, f"SELECT * FROM read_parquet('{res}/*.parquet')"))
                except Exception as e:  # noqa: BLE001
                    err = f"error: {e}"
            if err is None and int(rows) == 0:
                err = "empty result"
            status = "PASS" if err is None else "FAIL"
            print(f"{status} {op} ({rows} rows)" + ("" if err is None else f": {err}"))
            failed += err is not None
            lines.append(line)
    print(f"== {len(lines) - failed} pass, {failed} fail ==")
    if write:
        if failed or not lines:
            print("not writing expected.tsv: every op must pass")
            return 1
        with open(os.path.join(HERE, "expected.tsv"), "w") as fh:
            fh.write("# op id\trows\tdigest (written by crosscheck.py after the DuckDB oracle "
                     "matched every op)\n")
            fh.writelines(lines)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], "--write" in sys.argv[2:]))
