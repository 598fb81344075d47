#!/usr/bin/env python3
"""Pin the analysis fingerprints and cross-check them against DuckDB.

    python3 perfbench/pin_fingerprints.py [--write]

Generates the `analyses` dataset, runs every query of the mix in Spark
(perfbench.Main --pin), runs each query's registered oracle SQL in the
installed duckdb over the same parquet files, and fingerprints both results
the same way (Fingerprint.scala). Prints one line per query. With --write
it stores the Spark fingerprints, and the oracle verdict for each, in
perfbench/fingerprints.json, which every `analyses` run checks against.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
EPOCH = datetime.datetime(1970, 1, 1)


def encode(v):
    """Fingerprint.encode, value for value."""
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        bits = struct.unpack(">q", struct.pack(">d", 0.0 if v == 0.0 else v))[0]
        return "f" + format(bits & (2 ** 64 - 1), "x")
    if isinstance(v, decimal.Decimal):
        return "d" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{(v - EPOCH.date()).days}"
    return "o" + str(v)


def fingerprint(names, rows):
    total = 0
    order = sorted(range(len(names)), key=lambda i: names[i])
    for r in rows:
        s = "\u0001".join(f"{names[i]}={encode(r[i])}" for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")
    return f"{total % 2 ** 64:016x}:{len(rows)}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    cp = run.build()
    pin = os.path.join(run.WORK, "pin")
    shutil.rmtree(pin, ignore_errors=True)
    os.makedirs(os.path.join(pin, "tmp"))
    subprocess.run(
        ["java", "-Xmx3g", f"-Djava.io.tmpdir={pin}/tmp"]
        + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + ["-cp", cp, "perfbench.Main", "--pin", pin, "--work", os.path.join(pin, "spark")],
        check=True, stderr=subprocess.DEVNULL)
    with open(os.path.join(pin, "spark.json")) as fh:
        spark = json.load(fh)

    out, bad = {}, 0
    for q, rec in spark.items():
        verdict = "no registered oracle"
        if rec["oracle_sql"]:
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{pin}/duck'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{pin}/data/{t}.parquet/*.parquet')")
            cur = con.execute(rec["oracle_sql"])
            names = [d[0] for d in cur.description]
            theirs = fingerprint(names, cur.fetchall())
            con.close()
            verdict = "match" if theirs == rec["fingerprint"] else f"mismatch: duckdb {theirs}"
            bad += verdict != "match"
        print(f"{q}: spark {rec['fingerprint']} oracle {verdict}")
        out[q] = {"fingerprint": rec["fingerprint"], "oracle": verdict}
    shutil.rmtree(pin, ignore_errors=True)
    if args.write:
        with open(os.path.join(run.BENCH, "fingerprints.json"), "w") as fh:
            json.dump(out, fh, indent=2)
            fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
