#!/usr/bin/env python3
"""Cut the benchmark's input tables out of the engine's sf0.1 fixture.

Usage (from the repository root):

    python3 etlbench/slice_fixture.py <sf0.1 dir> etlbench/fixture

The benchmark reads only files inside its checkout, so the slice is
committed under etlbench/fixture/. Every row is a row of sf0.1, written
with the same Arrow schema and parquet settings, so the distributions and
the column types are the fixture's own:

- orders: the first DAYS order dates (from 1995-01-01, sf0.1's first);
  lineitem: the lines of those orders. That is every day the daily job
  can reach (see DailyJob in Workloads.scala) at about 250 insights rows a
  day, as in sf0.1.
- events, documents, embeddings: the first half by id. Events rise in ts
  with event_id, so the half is the first 15 of sf0.1's 30 days.
- region, nation, customer, supplier, part: whole, so every key the sliced
  orders and lines hold still joins.
"""
import datetime
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

# DailyJob.FixtureDays in Workloads.scala
DAYS = 202
WHOLE = ("region", "nation", "customer", "supplier", "part")
HALVED = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}


def write(table, out, name):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", version="2.6")
    print(f"{name}: {table.num_rows} rows")


def main(src, out):
    os.makedirs(out, exist_ok=True)
    for name in WHOLE:
        write(pq.read_table(os.path.join(src, f"{name}.parquet")), out, name)
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    end = datetime.datetime(1995, 1, 1) + datetime.timedelta(days=DAYS)
    orders = orders.filter(pc.less(orders["o_orderdate"], end))
    write(orders, out, "orders")
    lineitem = pq.read_table(os.path.join(src, "lineitem.parquet"))
    write(lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"])),
          out, "lineitem")
    for name, key in HALVED.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        write(t.filter(pc.less(t[key], t.num_rows // 2)), out, name)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
