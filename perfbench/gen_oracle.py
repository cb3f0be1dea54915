#!/usr/bin/env python3
"""Writes the derive workload's query texts and their answers.

Run from the root of a checkout:

    python3 perfbench/gen_oracle.py

For each query number in QUERIES it takes the text from DuckDB's installed
`tpcds` extension (`tpcds_queries()`, which needs no network), writes it to
perfbench/tpcds/qNN.sql, runs it in DuckDB over the pristine fixture tables
(fixtures/tpcds-sf0.01/*.parquet) and writes the answer to
perfbench/tpcds/qNN.parquet. The benchmark compares the answers Spark gives
on the pristine managed tables against these files.
"""
import os
import sys

import duckdb

# store_sales star joins with non-empty answers on the sf0.01 fixture, two
# of them with window functions (q63, q98); about three seconds a pass on
# two Spark cores
QUERIES = [7, 34, 63, 79, 96, 98]


def main():
    root = os.getcwd()
    fixtures = os.path.join(root, "fixtures", "tpcds-sf0.01")
    out = os.path.join(root, "perfbench", "tpcds")
    if not os.path.isdir(fixtures):
        sys.exit(f"missing {fixtures}: run from the root of a checkout")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("LOAD tpcds")
    for f in sorted(os.listdir(fixtures)):
        if f.endswith(".parquet"):
            path = os.path.join(fixtures, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    texts = dict(con.execute("SELECT query_nr, query FROM tpcds_queries()").fetchall())
    for n in QUERIES:
        text = texts[n].strip().rstrip(";").strip() + "\n"
        with open(os.path.join(out, f"q{n:02d}.sql"), "w") as fh:
            fh.write(text)
        dest = os.path.join(out, f"q{n:02d}.parquet").replace("'", "''")
        con.execute(f"COPY ({text}) TO '{dest}' (FORMAT parquet)")
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{dest}')").fetchone()[0]
        print(f"q{n:02d}: {rows} rows")


if __name__ == "__main__":
    main()
