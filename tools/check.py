#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [lane,lane,...]

Runs each oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB against
the parquet tables in <sfDir>, reads the Spark result parquet from
<verifyOutDir>/<name>/, sorts columns by name and rows by all columns, and
compares cell-by-cell. Exits 1 on any mismatch, on a requested lane that
is not in oracle_sql.json, and when nothing was checked. Dev tool only —
the shipped Scala library does not depend on this.
"""
import duckdb
import json
import sys
import glob

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        ignore_index=True)
    return df


def main(sfdir, outdir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sfdir}/{t}.parquet')")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)
    missing = sorted(only - oracle.keys()) if only else []
    for name in missing:
        print(f"FAIL {name}: no such lane in oracle_sql.json")
    n_pass, n_fail = 0, len(missing)
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output parquet")
            n_fail += 1
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").df()
        exp, got = norm(exp), norm(got)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} "
                  f"got={list(got.columns)}")
            n_fail += 1
            continue
        if exp.shape != got.shape:
            print(f"FAIL {name}: shape exp={exp.shape} got={got.shape}")
            n_fail += 1
            continue
        bad = []
        for c in exp.columns:
            ev, gv = exp[c], got[c]
            # Mirror the driver's HASH semantics: floats must be bit-exact
            # (not approximately equal), and object cells (Decimal etc.)
            # compare by canonical string repr — pandas `!=` on coerced
            # objects is looser than the driver and masked the r01 decimal
            # rounding divergence.
            if ev.dtype.kind == "f" and gv.dtype.kind == "f":
                import numpy as np
                mism = (ev.to_numpy().view("u8") != gv.to_numpy().view("u8"))
                mism = mism & ~(ev.isna() & gv.isna()).to_numpy()
                import pandas as pd
                mism = pd.Series(mism, index=ev.index)
            elif ev.dtype == object or gv.dtype == object:
                mism = ev.astype(str) != gv.astype(str)
            elif ev.dtype != gv.dtype:
                # The driver hashes cell STRING renders, so a dtype
                # mismatch (e.g. DuckDB sum(BIGINT) -> HUGEINT ->
                # float64 vs Spark BIGINT) renders "147.0" vs "147"
                # and misses there. Never coerce across dtypes: compare
                # canonical reprs so the mismatch fails HERE too. (r7:
                # the old fall-through to pandas `!=` silently coerced
                # int64<->float64 and let q227/q228 pass locally while
                # the driver missed them.)
                mism = (ev.astype(str) != gv.astype(str)) \
                    & ~(ev.isna() & gv.isna()).to_numpy()
            else:
                try:
                    mism = (ev != gv) & ~(ev.isna() & gv.isna())
                except Exception:
                    mism = ev.astype(str) != gv.astype(str)
            if mism.any():
                i = mism.idxmax()
                bad.append(f"{c}[{i}]: exp={ev[i]!r} got={gv[i]!r} "
                           f"({int(mism.sum())} cells)")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad[:3]))
            n_fail += 1
        else:
            print(f"PASS {name} ({exp.shape[0]} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    if n_pass + n_fail == 0:
        print("FAIL: nothing was checked")
    return 1 if n_fail or not n_pass else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
