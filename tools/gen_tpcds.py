#!/usr/bin/env python3
"""Generate TPC-DS data + DuckDB expected results for the reference's
98-query corpus (local tooling only — NOT part of the library).

Uses DuckDB's bundled dsdgen to produce the 24 reference table schemas
(query_performance/utils/metadata/*.json) as parquet, then executes every
reference SQL file (query_performance/sql/q*.sql — the literal texts, not
DuckDB's canonical parameterization) and stores each result as parquet.
`TpcdsExecSpec` loads the tables through GraftCatalog, runs the same texts
in Spark, and compares. The corpus the specs always run, DuckDB's own 99
texts with their answers, is written by
`tools/gen_tpcds_expected.py --duckdb-texts <outdir>`.

Usage: python3 tools/gen_tpcds.py [sf] [outdir]
Writes <outdir>/<table>.parquet, <outdir>/expected/<q>.parquet,
<outdir>/manifest.json ({query: {"status": "ok"|"error", "rows": N}}).
"""
import glob
import json
import os
import re
import sys

import duckdb


def duck_dialect(text: str) -> str:
    """Minimal dialect shims for DuckDB: the corpus (Athena ANSI) uses the
    bare word `returns` as a column alias (q77), which DuckDB reserves —
    quoting it is semantically neutral (comparison is positional). And
    numeric->int CAST rounds in DuckDB (Postgres style) but truncates in
    Spark ANSI / Athena: q54 buckets customers on cast(revenue/50 as int),
    so a boundary revenue lands in a different segment without normalizing
    the oracle to truncation."""
    text = re.sub(r'(?i)(?<![\w"])returns(?![\w"])', '"returns"', text)
    text = re.sub(r"(?i)cast\s*\(\s*\(\s*revenue\s*/\s*50\s*\)\s*AS\s+INTEGER\s*\)",
                  "cast(trunc(revenue / 50) AS INTEGER)", text)
    return rewrite_concat(rewrite_ratio_rank(text))


def rewrite_ratio_rank(text: str) -> str:
    """Decimal-division result type is implementation-defined, and q49
    RANKS on the quotient: Spark ANSI gives DECIMAL(15,4)/DECIMAL(15,4) ->
    DECIMAL(35,20) (HALF_UP at scale 20) while DuckDB converts `/` on
    decimals to DOUBLE — so whether two near-equal return ratios TIE under
    rank() depends on the engine (first observed at sf30: one item pair
    collides at scale 20 but not as float64, shifting a rank by one). Pin
    the oracle to Spark's semantics — the same side taken for
    concat-NULL and cast-truncation: compute the scale-20 HALF_UP units
    exactly in HUGEINT ((2*n*10^20 + d) // (2*d) on the *10^4 integer
    units; all q49 ratios are nonnegative with positive denominators),
    rank on the units, and present units/1e20 (the value comparison's
    tolerance absorbs the double presentation)."""
    pat = re.compile(
        r"\(cast\((.*?) AS DECIMAL\(15, 4\)\) /\s*"
        r"cast\((.*?) AS DECIMAL\(15, 4\)\)\) AS (return_ratio|currency_ratio)",
        re.S)

    def units(n, d):
        return ("((2*CAST(({n})*10000 AS HUGEINT)*100000000000000000000"
                " + CAST(({d})*10000 AS HUGEINT))"
                " // (2*CAST(({d})*10000 AS HUGEINT)))").format(n=n, d=d)

    def repl(m):
        u = units(m.group(1), m.group(2))
        return "(CAST({u} AS DOUBLE)/1e20) AS {nm}, {u} AS {nm}_u".format(
            u=u, nm=m.group(3))

    out, cnt = pat.subn(repl, text)
    if cnt:
        out = out.replace("ORDER BY return_ratio)", "ORDER BY return_ratio_u)")
        out = out.replace("ORDER BY currency_ratio)",
                          "ORDER BY currency_ratio_u)")
    return out


def rewrite_concat(text: str) -> str:
    """DuckDB's concat() IGNORES NULL arguments; Athena/Trino/Spark's
    propagates them (q84: concat(c_last_name, ', ', c_first_name) with a
    NULL name is NULL on the engine under test but 'Last, ' in a raw
    DuckDB oracle — first observed at sf10, where dsdgen emits NULL
    names). Rewrite concat(a, b, ...) to (a || b || ...), which
    NULL-propagates in DuckDB too. The scan skips matches inside string
    literals, and each collected argument is rewritten recursively so
    nested concat() calls get the same treatment."""
    out = []
    i = 0
    low = text.lower()
    inq = False
    while i < len(text):
        c = text[i]
        if inq:
            out.append(c)
            if c == "'":
                inq = False
            i += 1
            continue
        if c == "'":
            inq = True
            out.append(c)
            i += 1
            continue
        if not low.startswith("concat(", i) or (
                i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")):
            out.append(c)
            i += 1
            continue
        k = i + len("concat(")
        depth = 1
        args, cur, aq = [], [], False
        while k < len(text) and depth > 0:
            c = text[k]
            if aq:
                cur.append(c)
                if c == "'":
                    aq = False
            elif c == "'":
                aq = True
                cur.append(c)
            elif c == "(":
                depth += 1
                cur.append(c)
            elif c == ")":
                depth -= 1
                if depth > 0:
                    cur.append(c)
            elif c == "," and depth == 1:
                args.append("".join(cur))
                cur = []
            else:
                cur.append(c)
            k += 1
        args.append("".join(cur))
        out.append("(" +
                   " || ".join(rewrite_concat(a.strip()) for a in args) + ")")
        i = k
    return "".join(out)


if __name__ == "__main__":
    SF = sys.argv[1] if len(sys.argv) > 1 else "0.01"
    OUT = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/graft-tpcds-sf{SF}"
    META = "/root/reference/src/data_derivation/query_performance/utils/metadata"
    SQL = "/root/reference/src/data_derivation/query_performance/sql"

    os.makedirs(os.path.join(OUT, "expected"), exist_ok=True)
    con = duckdb.connect()
    # Bound DuckDB's memory and give it a spill dir: in-memory dsdgen at sf30
    # peaks ~90 GB RSS and a concurrent Spark JVM turns that into an OOM kill
    # (observed r8) — with a limit it spills to disk instead.
    con.execute(f"SET memory_limit='{os.environ.get('DUCKDB_MEM', '60GB')}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    # Align the null-ordering knob with Spark (ASC => NULLS FIRST). Several
    # corpus queries (q5/q14a/q27/q67) ORDER BY nullable rollup keys and LIMIT
    # 100: which rows survive the limit depends on where NULLs sort, and that
    # is presentation semantics, not query semantics — fix the knob so the
    # comparison is exact instead of tie-fuzzy.
    con.execute("SET default_null_order='nulls_first'")
    con.execute("LOAD tpcds")
    con.execute(f"CALL dsdgen(sf={SF})")

    tables = []
    for p in sorted(glob.glob(os.path.join(META, "*.json"))):
        with open(p) as f:
            tables.append(json.load(f)["name"])
    print(f"[tpcds] {len(tables)} tables from metadata", file=sys.stderr)
    for t in tables:
        dst = os.path.join(OUT, f"{t}.parquet")
        if not os.path.exists(dst):
            con.execute(f"copy (select * from {t}) to '{dst}' (format parquet)")
        n = con.execute(f"select count(*) from '{dst}'").fetchone()[0]
        print(f"[tpcds] {t}: {n} rows", file=sys.stderr)

    manifest = {}
    for p in sorted(glob.glob(os.path.join(SQL, "q*.sql"))):
        name = os.path.basename(p)[:-4]
        with open(p) as f:
            text = f.read()
        dst = os.path.join(OUT, "expected", f"{name}.parquet")
        try:
            con.execute(
                f"copy ({duck_dialect(text).rstrip().rstrip(';')}) to '{dst}' (format parquet)")
            rows = con.execute(f"select count(*) from '{dst}'").fetchone()[0]
            manifest[name] = {"status": "ok", "rows": rows}
        except Exception as e:
            manifest[name] = {"status": "error", "error": str(e).split("\n")[0][:300]}
            print(f"[tpcds] {name} FAILED: {manifest[name]['error']}", file=sys.stderr)

    ok = sum(1 for v in manifest.values() if v["status"] == "ok")
    nonempty = sum(1 for v in manifest.values() if v.get("rows", 0) > 0)
    print(f"[tpcds] {ok}/{len(manifest)} queries ran in duckdb, "
          f"{nonempty} with rows", file=sys.stderr)
    with open(os.path.join(OUT, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)

