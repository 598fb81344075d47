#!/usr/bin/env python3
"""Mechanized bench regression check (round-12 verdict item 6).

Compares a NEW full bench record (the sidecar /tmp/graft_bench.json, or any
file holding a JSON object/line with a "queries": {name: seconds} map)
against the committed BENCH_BASELINE.json of best-known quiet-host per-query
times, and flags only queries whose new time exceeds the pinned best by more
than THRESHOLD (default 1.5x) — the repo's own "best-of-quiet-runs" rule,
executable. Host contention inflates runs up to 3x run-to-run, so a single
inflated reading is NOT a regression; the flag list is the set of queries to
RE-RUN on a quiet host (graft.Main perf <query>) before believing anything.

Usage:
  python3 tools/bench_compare.py [NEW_RECORD] [--threshold X] [--update]

  NEW_RECORD defaults to /tmp/graft_bench.json (the bench sidecar).
  --update   min-merges the new record INTO BENCH_BASELINE.json (do this
             only with a quiet-host run: loadavg < ~2 before the run),
             so the baseline monotonically tightens.

Exit code: number of flagged queries (0 = clean), capped at 120.
"""
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "BENCH_BASELINE.json")


def load_record(path):
    """Accept a bare JSON file or a log whose lines include the record."""
    best = None
    with open(path, errors="replace") as fh:
        text = fh.read()
    try:
        d = json.loads(text)
        if "queries" in d:
            return d
    except json.JSONDecodeError:
        pass
    for line in text.splitlines():
        m = re.search(r'\{"metric".*\}\s*$', line.strip())
        if m and '"queries"' in line:
            try:
                d = json.loads(m.group(0))
            except json.JSONDecodeError:
                continue
            if "queries" in d and (
                    best is None or len(d["queries"]) > len(best["queries"])):
                best = d
    if best is None:
        sys.exit(f"no bench record with a queries map found in {path}")
    return best


def main():
    args = [a for a in sys.argv[1:]]
    threshold = 1.5
    update = False
    path = "/tmp/graft_bench.json"
    i = 0
    while i < len(args):
        if args[i] == "--threshold":
            threshold = float(args[i + 1])
            i += 2
        elif args[i] == "--update":
            update = True
            i += 1
        else:
            path = args[i]
            i += 1

    base = json.load(open(BASELINE))
    new = load_record(path)
    nq = new["queries"]
    bq = base["queries"]

    flagged = []
    for q, t in sorted(nq.items()):
        pinned = bq.get(q)
        if pinned is not None and t > pinned * threshold:
            flagged.append((q, pinned, t, t / pinned))
    missing = sorted(set(bq) - set(nq))
    added = sorted(set(nq) - set(bq))

    print(f"bench_compare: {len(nq)} queries in {path} vs "
          f"{len(bq)} pinned (threshold {threshold}x)")
    if added:
        print(f"  new queries (no pin yet): {', '.join(added)}")
    if missing:
        print(f"  pinned but absent from record: {', '.join(missing)}")
    if flagged:
        print(f"  {len(flagged)} queries above {threshold}x pinned best "
              "(re-run each on a quiet host before calling it a regression):")
        for q, pinned, t, r in sorted(flagged, key=lambda x: -x[3]):
            print(f"    {q}: {t:.2f}s vs pinned {pinned:.2f}s ({r:.2f}x)")
    else:
        print("  no query above threshold — clean")

    if update:
        merged = dict(bq)
        for q, t in nq.items():
            if q not in merged or t < merged[q]:
                merged[q] = t
        base["queries"] = dict(sorted(merged.items()))
        base["n_queries"] = len(merged)
        base.setdefault("source_runs", []).append(
            f"min-merge of {os.path.basename(path)} "
            f"(total {new.get('value', '?')}s)")
        json.dump(base, open(BASELINE, "w"), indent=1)
        print(f"  baseline min-merged -> {BASELINE} ({len(merged)} queries, "
              f"sum of pins {sum(merged.values()):.1f}s)")

    sys.exit(min(len(flagged), 120))


if __name__ == "__main__":
    main()
