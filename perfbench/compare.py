#!/usr/bin/env python3
"""Record sets of benchmark runs and compare two sets against BENCHMARK.json.

    python3 perfbench/compare.py record SET.jsonl --workload ingest_backlog --seeds 1-10 [--trace 0|1]
    python3 perfbench/compare.py show SET.jsonl
    python3 perfbench/compare.py compare BASE.jsonl NEW.jsonl

`record` runs perfbench/run.py once per seed and appends one line per run.
`show` prints, per workload and end-to-end metric, the median, the
quartiles (statistics.quantiles, n=4) and the spread (interquartile range
over the median) next to the metric's bound, plus the tracing overhead when
the set holds traced runs of the workload. `compare` prints both sets and a
verdict per workload and metric:

  agree       the new median is within the bound of the base median
  worse       the new median is worse than the base median by more than the bound
  better      the new median is better by more than the bound and by more
              than the base runs' own spread
  unresolved  a set's spread exceeds the bound, so the sets cannot be told
              apart, unless every new run beats every base run (then better)

It exits 1 when any verdict is worse or unresolved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def record(args):
    s = spec()
    for seed in seeds(args.seeds):
        cmd = s["command"] + ["--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(s["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.monotonic() - t0
        line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 and p.stdout.strip() else None
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "exit": p.returncode, "wall_s": round(wall, 1),
               "result": json.loads(line) if line else None}
        with open(args.set, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(f"{args.workload} seed {seed}: exit {p.returncode} in {wall:.0f} s"
              + (f", correct {rec['result']['correct']}" if line else ""), flush=True)


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf"),
            "values": values}


def summarize(runs, s):
    """{workload: {metric: stats}} over the untraced runs; {workload: overhead} from traced ones"""
    out, overhead = {}, {}
    for w in sorted({r["workload"] for r in runs}):
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"] and r["trace"] == 0]
        traced = [r["result"] for r in runs if r["workload"] == w and r["result"] and r["trace"] == 1]
        out[w] = {m["name"]: stats([x["metrics"][m["name"]]["value"] for x in ok])
                  for m in s["end_to_end"]} if ok else {}
        if ok and traced:
            overhead[w] = {}
            for name in ("throughput_per_s", "latency_p50_ms"):
                t = statistics.median(x["metrics"]["trace." + name]["value"] for x in traced)
                overhead[w][name] = t / out[w][name]["median"] - 1
    return out, overhead


def show(path, s):
    runs = load(path)
    summary, overhead = summarize(runs, s)
    bounds = {m["name"]: m for m in s["end_to_end"]}
    failed = sum(1 for r in runs if not r["result"] or not r["result"]["correct"])
    print(f"{path}: {len(runs)} runs, {failed} failed or incorrect")
    for w, ms in summary.items():
        n = len(next(iter(ms.values()))["values"]) if ms else 0
        print(f"  {w} ({n} untraced runs)")
        for name, st in ms.items():
            b = bounds[name]["bound"]
            flag = "" if st["spread"] <= b else "  SPREAD > BOUND"
            print(f"    {name:18} median {st['median']:12.4f}  q1 {st['q1']:12.4f}  q3 {st['q3']:12.4f}"
                  f"  spread {st['spread']:.3f} (bound {b}){flag}")
        for name, o in overhead.get(w, {}).items():
            print(f"    tracing overhead on {name}: {o:+.1%}")
    return summary


def verdict(base, new, m):
    b, higher = m["bound"], m["better"] == "higher"
    sign = -1 if higher else 1
    worse = sign * (new["median"] - base["median"]) / base["median"]
    beats = (min(new["values"]) > max(base["values"])) if higher else \
        (max(new["values"]) < min(base["values"]))
    if m["name"] != "setup_s" and (base["spread"] > b or new["spread"] > b):
        return "better" if beats else "unresolved"
    if worse > b:
        return "worse"
    if -worse > b and -worse > base["spread"]:
        return "better"
    return "agree"


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("set")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sh = sub.add_parser("show")
    sh.add_argument("set")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    args = ap.parse_args()
    s = spec()
    if args.cmd == "record":
        return record(args)
    if args.cmd == "show":
        show(args.set, s)
        return 0
    base, new = show(args.base, s), show(args.new, s)
    bad = 0
    print("verdicts (new against base):")
    for w in sorted(set(base) & set(new)):
        for m in s["end_to_end"]:
            if m["name"] in base[w] and m["name"] in new[w]:
                v = verdict(base[w][m["name"]], new[w][m["name"]], m)
                bad += v in ("worse", "unresolved")
                print(f"  {w:15} {m['name']:18} {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
