#!/usr/bin/env python3
"""Write DuckDB answers for the TPC-DS query corpus over an ALREADY-exported
dsdgen table directory (tools/gen_tpcds.py output), without re-running
dsdgen. DuckDB queries the table parquet through views, with a memory
limit + spill directory so a big scale factor cannot OOM the box
(observed: in-memory dsdgen sf30 + a concurrent Spark JVM = OOM kill at
94 GB RSS).

Two corpora:

  python3 tools/gen_tpcds_expected.py --duckdb-texts <dir> [memory_limit]
      DuckDB's own 99 texts and parameters, from the installed `tpcds`
      extension (`tpcds_queries()`, no network). Writes the texts to
      <dir>/queries/qNN.sql and their answers to
      <dir>/expected-duckdb/qNN.parquet. This is the corpus the TPC-DS
      specs run from a checkout.

  python3 tools/gen_tpcds_expected.py <dir> [memory_limit]
      The reference's 98 texts (its query_performance/sql, when that
      checkout is present), answered into <dir>/expected/*.parquet +
      <dir>/manifest.json.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gen_tpcds import duck_dialect  # noqa: E402

args = sys.argv[1:]
DUCKDB_TEXTS = args[:1] == ["--duckdb-texts"]
if DUCKDB_TEXTS:
    args = args[1:]
if not args:
    sys.exit(__doc__)
DIR = args[0]
MEM = args[1] if len(args) > 1 else "60GB"
SQL = "/root/reference/src/data_derivation/query_performance/sql"

con = duckdb.connect()
con.execute(f"SET memory_limit='{MEM}'")
con.execute("SET temp_directory='/tmp/duckdb_spill'")
con.execute("SET default_null_order='nulls_first'")
# Views re-scan parquet on every reference — q64's twice-referenced
# 6-table CTE never finished at sf30 that way (>44 min, killed).
# LOAD_TABLES=1 materializes every table in the buffer pool first
# (the shape the in-memory dsdgen runs used), trading ~60 GB RAM for
# table-speed scans; the memory limit + spill dir keep it bounded.
load = os.environ.get("LOAD_TABLES", "") == "1"
for p in sorted(glob.glob(os.path.join(DIR, "*.parquet"))):
    t = os.path.basename(p)[:-len(".parquet")]
    kind = "table" if load else "view"
    con.execute(f"create {kind} {t} as select * from '{p}'")
    print(f"[expected] {kind} {t}", file=sys.stderr)


def corpus():
    """(name, text DuckDB runs) for every query of the chosen corpus."""
    if DUCKDB_TEXTS:
        con.execute("LOAD tpcds")
        qdir = os.path.join(DIR, "queries")
        os.makedirs(qdir, exist_ok=True)
        for n, text in con.execute(
                "SELECT query_nr, query FROM tpcds_queries() ORDER BY query_nr").fetchall():
            name = f"q{n:02d}"
            text = text.strip().rstrip(";").strip() + "\n"
            with open(os.path.join(qdir, f"{name}.sql"), "w") as fh:
                fh.write(text)
            yield name, text
    else:
        for p in sorted(glob.glob(os.path.join(SQL, "q*.sql"))):
            with open(p) as f:
                yield os.path.basename(p)[:-4], duck_dialect(f.read())


out = os.path.join(DIR, "expected-duckdb" if DUCKDB_TEXTS else "expected")
os.makedirs(out, exist_ok=True)
manifest = {}
for name, text in corpus():
    dst = os.path.join(out, f"{name}.parquet")
    if os.path.exists(dst) and not DUCKDB_TEXTS:  # restart-friendly
        # A file truncated by a killed COPY fails the count — fall
        # through to regeneration instead of aborting the whole rebuild.
        try:
            rows = con.execute(f"select count(*) from '{dst}'").fetchone()[0]
            manifest[name] = {"status": "ok", "rows": rows}
            print(f"[expected] {name}: {rows} rows (kept)", file=sys.stderr)
            continue
        except Exception as e:
            print(f"[expected] {name}: kept file unreadable "
                  f"({str(e).splitlines()[0][:120]}), regenerating",
                  file=sys.stderr)
            os.remove(dst)
    try:
        con.execute(
            f"copy ({text.rstrip().rstrip(';')}) to '{dst}' (format parquet)")
        rows = con.execute(f"select count(*) from '{dst}'").fetchone()[0]
        manifest[name] = {"status": "ok", "rows": rows}
        print(f"[expected] {name}: {rows} rows", file=sys.stderr)
    except Exception as e:
        manifest[name] = {"status": "error", "error": str(e).split("\n")[0][:300]}
        print(f"[expected] {name} FAILED: {manifest[name]['error']}", file=sys.stderr)

ok = sum(1 for v in manifest.values() if v["status"] == "ok")
print(f"[expected] {ok}/{len(manifest)} queries ran in duckdb", file=sys.stderr)
if DUCKDB_TEXTS:
    sys.exit(0 if ok == len(manifest) else 1)
with open(os.path.join(DIR, "manifest.json"), "w") as f:
    json.dump(manifest, f, indent=1, sort_keys=True)
