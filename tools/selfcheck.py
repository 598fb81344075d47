#!/usr/bin/env python3
"""Dev-only self-check mirroring the driver's correctness gate:
runs each oracle SQL in DuckDB over the testdata parquet tables and
compares (rows / schema / exact values) against the Verify.scala parquet
dumps. Not part of the Scala library. Before the final tally it prints
the five oracles whose DuckDB run took longest, with their seconds.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>
"""
import json
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-aware -> naive UTC so spark parquet (UTC-adjusted) and duckdb agree
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def connect(sf_dir: str):
    """Fresh per-query connection with an explicit memory budget + spill dir.

    One long-lived connection accumulates allocator state across hundreds of
    oracles, and DuckDB's default memory_limit (80% of RAM) trusts the OS to
    have that much — under host contention a heavy oracle (the recursive-CTE
    graph peels) then dies on a raw `Failed to allocate` instead of spilling
    (observed twice: rounds 8 and 9, same query, passes standalone). A fixed
    budget + temp_directory makes DuckDB spill instead of crash, and a fresh
    connection per oracle means no query inherits another's fragmentation.
    """
    con = duckdb.connect()
    con.execute("SET memory_limit='32GB'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main(sf_dir: str, out_dir: str) -> int:
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    oracle_s = {}  # query -> seconds of its DuckDB run
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        mine = canon(pd.read_parquet(qdir))
        if name not in oracles:
            status = f"rows-only: {len(mine)} rows, cols={list(mine.columns)}"
            ok = len(mine) > 0
        else:
            try:
                con = connect(sf_dir)
                t0 = time.perf_counter()
                try:
                    theirs = canon(con.execute(oracles[name]).df())
                finally:
                    oracle_s[name] = time.perf_counter() - t0
                    con.close()
            except Exception as e:
                print(f"FAIL {name}: oracle SQL error: {e}")
                n_fail += 1
                continue
            ok, status = compare(mine, theirs)
        if ok:
            n_pass += 1
            print(f"PASS {name}: {status}")
        else:
            n_fail += 1
            print(f"FAIL {name}: {status}")
    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
    if slowest:
        print("\nslowest oracles (DuckDB seconds):")
        for name, sec in slowest:
            print(f"  {sec:8.2f}  {name}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


def compare(mine: pd.DataFrame, theirs: pd.DataFrame):
    if list(mine.columns) != list(theirs.columns):
        return False, f"schema: mine={list(mine.columns)} oracle={list(theirs.columns)}"
    if len(mine) != len(theirs):
        return False, f"rows: mine={len(mine)} oracle={len(theirs)}"
    for c in mine.columns:
        a, b = mine[c], theirs[c]
        # the driver's gate hashes typed values: an int64 Spark column vs a
        # float64/HUGEINT oracle column hash-mismatches even when numerically
        # equal, so mirror that strictness here instead of coercing.
        if pd.api.types.is_integer_dtype(a) != pd.api.types.is_integer_dtype(b):
            return False, (f"col {c}: dtype mismatch mine={a.dtype} "
                           f"oracle={b.dtype} (driver hash gate would fail)")
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            ae, be = a.astype("float64"), b.astype("float64")
            exact = ((ae == be) | (ae.isna() & be.isna())).all()
            if not exact:
                bad = (ae - be).abs()
                return False, f"col {c}: max abs diff {bad.max()} ({(ae != be).sum()} rows differ)"
        else:
            if not (a.astype(object).where(pd.notna(a), None)
                    .eq(b.astype(object).where(pd.notna(b), None)).all()):
                diff = a.astype(str) != b.astype(str)
                i = diff[diff].index[:3].tolist()
                return False, f"col {c}: differs at rows {i}: mine={a.iloc[i].tolist()} oracle={b.iloc[i].tolist()}"
    return True, f"{len(mine)} rows x {len(mine.columns)} cols exact"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
