#!/usr/bin/env python3
"""Alternating perfbench pairs between two checkouts.

Usage:

    python3 tools/pairs.py --parent DIR --change DIR --workload transfer \\
        --seeds 501-510 [--seconds 5] [--trace 0] --out pairs_transfer.jsonl
    python3 tools/pairs.py --summarize pairs_transfer.jsonl [more.jsonl ...]

Each seed is one pair: `perfbench/run.py` runs once in each checkout with
that seed, the parent first on even pair indexes and the change first on
odd ones, so a drift of the host's speed falls on both sides alike.
Every run appends one JSON line {"workload", "seed", "side", "result"}
to `--out` as soon as it ends; `result` is perfbench's last output line,
or null when the run failed. At the end (or with --summarize, from such
files) it prints, per workload and end-to-end metric, the medians of
both sides, how many pairs the change won, the parent's interquartile
range and every value, then each side's failed / attempted / correct.
Which direction is better comes from the `BENCHMARK.json` of the
checkout this script is in.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")
# the workload's own rate and round first, then the set-up costs
ORDER = ("objects_per_s", "round_p50_s", "setup_s", "peak_heap_mb")


def seeds_of(spec):
    """`501-510` or `501,503,505` as a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"pairs: {workload} seed {seed} in {checkout} exited "
              f"{proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def summarize(records, better):
    by_wl = {}
    for r in records:
        by_wl.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r["result"]
    for wl, by_seed in by_wl.items():
        seeds = [s for s in sorted(by_seed)
                 if all(by_seed[s].get(side) for side in SIDES)]
        print(f"== {wl}: {len(seeds)} pairs")
        if not seeds:
            continue
        names = sorted(by_seed[seeds[0]]["parent"]["metrics"])
        for m in [n for n in ORDER if n in names] + [n for n in names if n not in ORDER]:
            p = [by_seed[s]["parent"]["metrics"][m]["value"] for s in seeds]
            c = [by_seed[s]["change"]["metrics"][m]["value"] for s in seeds]
            lower = better.get(m, "lower") == "lower"
            wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
            pm, cm = statistics.median(p), statistics.median(c)
            iqr = "n/a"
            if len(p) >= 2:
                q1, q3 = quartiles(p)
                iqr = f"{q3 - q1:.2f}"
            print(f"  {m:<14} parent med {pm:>9.2f} change med {cm:>9.2f} "
                  f"({(cm - pm) / pm * 100:+.1f}%) change-better {wins}/{len(seeds)} "
                  f"parentIQR {iqr}  P={[round(v, 2) for v in p]} "
                  f"C={[round(v, 2) for v in c]}")
        for side in SIDES:
            res = [by_seed[s][side] for s in seeds]
            print(f"  {side} failed {[r['failed'] for r in res]} "
                  f"attempted {[r['attempted'] for r in res]} "
                  f"correct {[r['correct'] for r in res]}")
        broken = [s for s in sorted(by_seed) if s not in seeds]
        if broken:
            print(f"  seeds without a result on both sides: {broken}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 501-510 or 501,503")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="JSON-lines file the runs append to")
    ap.add_argument("--summarize", nargs="+", metavar="JSONL",
                    help="print the summary of recorded runs and exit")
    args = ap.parse_args()
    better = {m["name"]: m["better"] for m in
              json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}

    if args.summarize:
        records = [json.loads(ln) for f in args.summarize
                   for ln in pathlib.Path(f).read_text().splitlines() if ln.strip()]
        summarize(records, better)
        return
    if not (args.parent and args.change and args.workload and args.seeds and args.out):
        ap.error("--parent, --change, --workload, --seeds and --out are required")
    checkouts = {"parent": args.parent, "change": args.change}
    records = []
    with open(args.out, "a") as out:
        for i, seed in enumerate(seeds_of(args.seeds)):
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                rec = {"workload": args.workload, "seed": seed, "side": side,
                       "result": run_one(checkouts[side], args.workload, seed,
                                         args.seconds, args.trace)}
                records.append(rec)
                out.write(json.dumps(rec) + "\n")
                out.flush()
    summarize(records, better)


if __name__ == "__main__":
    main()
