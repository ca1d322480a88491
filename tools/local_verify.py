#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tooling only —
the shipped library is pure Scala/Spark; this mirrors what the driver does
with graft.Verify output + DuckDB so mismatches surface before round end).

Usage:
  python3 tools/local_verify.py [sfdir] [outdir]
where outdir is what `sbt "runMain graft.Verify <sfdir> <outdir>"` wrote.

Each oracle line carries the seconds DuckDB took to run that oracle's
SQL (execute + fetch), and the summary prints their total, so a change
to oracle SQL shows what its twins cost.
"""
import sys, json, glob, time

import duckdb
import pandas as pd
import pandas.testing as pdt

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    duck_s = 0.0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            sdf = pd.read_parquet(f"{outdir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_bad += 1
            continue
        t0 = time.perf_counter()
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {type(e).__name__}: {e}")
            n_bad += 1
            continue
        secs = time.perf_counter() - t0
        duck_s += secs
        took = f"duckdb {secs:.3f} s"
        sdf = sdf[sorted(sdf.columns)].reset_index(drop=True)
        ddf = ddf[sorted(ddf.columns)].reset_index(drop=True)
        if list(sdf.columns) != list(ddf.columns):
            print(f"FAIL {name}: columns spark={list(sdf.columns)} duck={list(ddf.columns)} [{took}]")
            n_bad += 1
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows spark={len(sdf)} duck={len(ddf)} [{took}]")
            n_bad += 1
            continue
        try:
            pdt.assert_frame_equal(sdf, ddf, check_dtype=True, check_exact=True)
            print(f"OK   {name} ({len(sdf)} rows) [{took}]")
            n_ok += 1
        except AssertionError:
            try:
                pdt.assert_frame_equal(sdf, ddf, check_dtype=False, check_exact=True)
                print(f"OK~  {name} ({len(sdf)} rows) [dtype skew only] [{took}]")
                for c in sdf.columns:
                    if str(sdf[c].dtype) != str(ddf[c].dtype):
                        print(f"      {c}: spark={sdf[c].dtype} duck={ddf[c].dtype}")
                n_ok += 1
            except AssertionError as e:
                first = [l for l in str(e).splitlines() if l.strip()][:6]
                print(f"FAIL {name}: value mismatch: [{took}]")
                for l in first:
                    print(f"      {l}")
                # show first differing column/row for debugging
                for c in sdf.columns:
                    a, b = sdf[c], ddf[c]
                    try:
                        pdt.assert_series_equal(a, b, check_dtype=False, check_exact=True)
                    except AssertionError:
                        neq = a.ne(b) & ~(a.isna() & b.isna())
                        idx = neq[neq].index[:3].tolist()
                        for i in idx:
                            print(f"      col={c} row={i}: spark={a[i]!r} duck={b[i]!r}")
                        break
                n_bad += 1
    # rows-only queries (no oracle): just confirm output exists
    have = {p.split("/")[-1] for p in glob.glob(f"{outdir}/*") if not p.endswith(".json")}
    rows_only = have - set(oracle)
    for name in sorted(rows_only):
        try:
            n = len(pd.read_parquet(f"{outdir}/{name}"))
            print(f"OK?  {name} ({n} rows, rows-only check)")
        except Exception as e:
            print(f"FAIL {name}: rows-only output unreadable: {e}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed, {len(rows_only)} rows-only")
    print(f"duckdb oracle seconds total: {duck_s:.3f}")
    # exact counts block to paste into README/COVERAGE/SKILL — regenerate
    # the docs from THIS, never by hand (doc drift recurred in r6/r7)
    total = len(oracle) + len(rows_only)
    print("\n--- docs counts block (paste verbatim) ---")
    print(f"{total} registered queries; {n_ok} oracle-exact "
          f"(rows+schema+hash vs DuckDB); {len(rows_only)} rows-only by design; "
          f"{n_bad} failures")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
