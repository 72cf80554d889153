#!/usr/bin/env python3
"""Local self-check mimicking the driver's verify step.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir>

Reads each <out>/<name>/ parquet dump (written by graft.Verify), runs the
matching oracle SQL from <out>/oracle_sql.json in DuckDB over the sf_dir
parquet tables, and compares row-by-row (column order normalized by name).
A Verify run with a name filter writes only those names' oracles, so the
check covers exactly the filtered dump.
Numeric values compare exactly after float64 coercion; everything else
compares as strings. NOT part of the shipped library — dev tooling only.
"""
import sys, json, glob, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v!r}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(float(v)) if abs(v) < 2**52 else str(v)
    try:
        import decimal
        # Scale-exact: the driver's hash is sensitive to decimal rendering
        # (5884649.40 vs 5884649.4), so compare the exact string — a scale
        # mismatch between engines must fail here, not only at the driver.
        if isinstance(v, decimal.Decimal):
            return str(v)
    except Exception:
        pass
    return str(v)


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sfdir}/{t}.parquet')")
    fail = ok = 0
    # dumps without an oracle entry get only the driver's rows-only check
    import os
    dumped = {d for d in os.listdir(outdir)
              if os.path.isdir(f"{outdir}/{d}")}
    skipped = sorted(dumped - set(oracle))
    skip = len(skipped)
    for name in skipped:
        print(f"[SKIP] {name}: no oracle (rows-only)")
    for name in sorted(oracle):
        sql = oracle[name]
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            print(f"[MISS] {name}: no spark output")
            fail += 1
            continue
        got_tbl = pq.read_table(files[0])
        dec_cols = [f.name for f in got_tbl.schema
                    if "decimal" in str(f.type)]
        if dec_cols:
            # Driver hash canonicalizes decimals inconsistently across
            # engines — outputs must be DOUBLE/string, never DECIMAL.
            print(f"[FAIL] {name}: DECIMAL output columns {dec_cols} "
                  f"(driver-hash-unstable; cast to DOUBLE)")
            fail += 1
            continue
        try:
            rel = con.sql(sql)
            exp_cols = list(rel.columns)
            exp_types = [str(t) for t in rel.types]
            exp_rows = rel.fetchall()
        except Exception as e:
            print(f"[FAIL] {name}: oracle error {e}")
            fail += 1
            continue
        # The driver fetches the oracle through pandas, where HUGEINT
        # (DuckDB's SUM-over-integer result) degrades to float64 and
        # renders "26857.0" against Spark's int64 "26857" — a hash
        # mismatch our exact-int compare below would mask. Fail loudly.
        hug = [c for c, t in zip(exp_cols, exp_types)
               if t in ("HUGEINT", "UHUGEINT", "INT128")]
        if hug:
            print(f"[FAIL] {name}: oracle emits HUGEINT cols {hug} "
                  f"(pandas→float64 at the driver; CAST(... AS BIGINT))")
            fail += 1
            continue
        got_cols = got_tbl.column_names
        if sorted(got_cols) != sorted(exp_cols):
            print(f"[FAIL] {name}: cols {sorted(got_cols)} vs {sorted(exp_cols)}")
            fail += 1
            continue
        order = sorted(got_cols)
        got_rows = list(zip(*[got_tbl.column(c).to_pylist() for c in order]))
        idx = [exp_cols.index(c) for c in order]
        exp_rows = [tuple(r[i] for i in idx) for r in exp_rows]
        if len(got_rows) != len(exp_rows):
            print(f"[FAIL] {name}: rows {len(got_rows)} vs {len(exp_rows)}")
            fail += 1
            continue
        bad = []
        for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
            gn, en = tuple(map(norm, g)), tuple(map(norm, e))
            if gn != en:
                bad.append((i, gn, en))
                if len(bad) >= 3:
                    break
        if bad:
            print(f"[FAIL] {name}: first diffs {bad}")
            fail += 1
        else:
            print(f"[ OK ] {name}: {len(got_rows)} rows")
            ok += 1
    print(f"== {ok} ok, {fail} fail, {skip} skip ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
