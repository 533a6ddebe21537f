#!/usr/bin/env python3
"""Cuts the benchmark's base tables from the repository's sf0.1 test data.

    python3 perfbench/make_base.py SF01_DIR

SF01_DIR holds the sf0.1 parquet tables (see TESTDATA.md). The cut keeps
every table's join semantics: region and nation whole, the first customers
with all their orders and those orders' line items, the first users with
all their events, and the first documents and vectors. It is written to perfbench/base/, which is
kept in the repository, so a benchmark run reads nothing outside its
checkout. gen.py draws each seed's inputs from these tables.
"""
import os
import sys

import duckdb

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

CUT = {
    "region": "SELECT * FROM region ORDER BY r_regionkey",
    "nation": "SELECT * FROM nation ORDER BY n_nationkey",
    "customer": "SELECT * FROM customer WHERE c_custkey < 600 ORDER BY c_custkey",
    "orders": "SELECT * FROM orders WHERE o_custkey < 600 ORDER BY o_orderkey",
    "lineitem": "SELECT l.* FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
                "WHERE o.o_custkey < 600 ORDER BY l.l_orderkey, l.l_linenumber",
    "events": "SELECT * FROM events WHERE user_id < 450 ORDER BY event_id",
    "documents": "SELECT * FROM documents WHERE doc_id < 1200 ORDER BY doc_id",
    "embeddings": "SELECT * FROM embeddings WHERE vec_id < 1200 ORDER BY vec_id",
}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in CUT:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'")
    os.makedirs(OUT, exist_ok=True)
    for t, sql in CUT.items():
        path = f"{OUT}/{t}.parquet"
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, COMPRESSION ZSTD)")
        n = con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        print(f"{t}: {n} rows, {os.path.getsize(path) // 1024} KiB")


if __name__ == "__main__":
    main()
