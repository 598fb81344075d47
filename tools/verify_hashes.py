#!/usr/bin/env python3
"""Per-query output hashes of a graft.Verify dump, for byte-for-byte diffs.

Prints one line per query, sorted by name:

    <query> <sha256 of the result> <sha256 of its oracle SQL>

The result is canonicalized with selfcheck.canon (columns by name, rows
sorted) and hashed with its column names and dtypes. The oracle SQL is
hashed with all whitespace removed, so re-indenting a query hashes the
same. A query with no dump or no oracle prints `-` in that field.

Usage: python3 tools/verify_hashes.py <verifyOutDir>
Compare two dumps with:
    diff <(python3 tools/verify_hashes.py A) <(python3 tools/verify_hashes.py B)
"""
import hashlib
import json
import os
import re
import sys

import pandas as pd

from selfcheck import canon


def result_hash(qdir: str) -> str:
    df = canon(pd.read_parquet(qdir))
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(t)] for c, t in df.dtypes.items()]).encode())
    h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def sql_hash(sql: str) -> str:
    return hashlib.sha256(re.sub(r"\s+", "", sql).encode()).hexdigest()


def main(out_dir: str) -> int:
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    dumps = {n for n in os.listdir(out_dir)
             if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(dumps | set(oracles)):
        res = result_hash(os.path.join(out_dir, name)) if name in dumps else "-"
        sql = sql_hash(oracles[name]) if name in oracles else "-"
        print(f"{name} {res} {sql}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
