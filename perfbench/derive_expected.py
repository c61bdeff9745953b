#!/usr/bin/env python3
"""Derive perfbench/expected.tsv: the fingerprint (row count plus an
order-insensitive content hash) of every workload query's result on the
bundled tables, cross-checked against the DuckDB oracle.

Usage (from the root of a checkout; needs the duckdb and pandas modules):

    python3 perfbench/derive_expected.py [--write]

Runs every workload query once in the harness's `expected` mode, which also
dumps each result's rows and the program's oracle SQL
(graft.SparkEntry.oracleSql). Each dumped result is then compared with the
DuckDB result of its oracle SQL by the rule of tools/check_oracle.py
(columns sorted by name, rows sorted, exact equality). A query without
oracle SQL is marked `none`. Prints the table; --write stores it in
expected.tsv. Exits non-zero if any query failed or mismatched its oracle.
"""
import argparse
import json
import os
import sys

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    import duckdb

    run.build()
    dump = os.path.join(run.WORK, "expected-dump")
    res = run.java("expected", os.path.join(run.WORK, "expected.json"),
                   ["--data", run.DATA, "--dump", dump],
                   os.path.join(run.WORK, f"tmp-{os.getpid()}"), 1800)
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{run.DATA}/{f}'")
    lines, bad = ["query\trows\tdigest\toracle"], []
    for q in sorted(res):
        r = res[q]
        if "error" in r:
            bad.append(q)
            print(f"FAIL {q}: {r['error']}")
            continue
        if (r["rows"], r["digest"]) != (r["dumped_rows"], r["dumped_digest"]):
            bad.append(q)
            print(f"FAIL {q}: dumped rows fingerprint differently")
            continue
        status = "none"
        if q in oracle:
            got = con.execute(f"SELECT * FROM '{dump}/{q}/*.parquet'").fetchdf()
            exp = con.execute(oracle[q]).fetchdf()
            got = got[sorted(got.columns)]
            exp = exp[sorted(exp.columns)]
            same = list(got.columns) == list(exp.columns) and len(got) == len(exp)
            if same:
                got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
                exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
                same = got.equals(exp)
            status = "exact" if same else "MISMATCH"
            if not same:
                bad.append(q)
        print(f"{q}\t{r['rows']}\t{r['digest']}\t{status}")
        lines.append(f"{q}\t{r['rows']}\t{r['digest']}\t{status}")
    if args.write and not bad:
        with open(run.EXPECTED, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    print(f"{len(res) - len(bad)} ok, {len(bad)} failing: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
