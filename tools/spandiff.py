#!/usr/bin/env python3
"""Per-span and per-layer comparison of two perfbench trace files.

Usage:

    python3 tools/spandiff.py PARENT.json CHANGE.json

Both files are traced runs' `perfbench/traces/<workload>-seed<n>.json`.
For every span name either file records (a name with a `.calls` metric),
it prints one row of per-call medians, parent -> change: wall, jobs,
tasks, task CPU, shuffle MB and fs ops. Then it prints the round-level
per-layer metrics that `BENCHMARK.json` lists, and any other metric
without a span (the workload's own rates and lags), parent -> change.
A metric one file lacks prints as `-`.
"""
import argparse
import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
# (metric suffix, column header, format)
SPAN_COLS = (("wall_s", "wall s", "{:.2f}"), ("jobs", "jobs", "{:g}"),
             ("tasks", "tasks", "{:g}"), ("task_cpu_s", "cpu s", "{:.2f}"),
             ("shuffle_mb", "shuffle MB", "{:.2f}"), ("fs_ops", "fs ops", "{:g}"))


def load(path):
    d = json.loads(pathlib.Path(path).read_text())
    return d["workload"], d["seed"], d["metrics"]


def pair(a, b, fmt):
    show = lambda m: "-" if m is None else fmt.format(m)
    return f"{show(a)} -> {show(b)}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    (wp, sp, p), (wc, sc, c) = load(args.parent), load(args.change)
    print(f"parent {wp} seed {sp} -> change {wc} seed {sc}")

    spans = sorted({k[:-len(".calls")] for m in (p, c) for k in m if k.endswith(".calls")})
    width = max([len(s) for s in spans] + [4])
    print(f"{'span':<{width}}  " + "  ".join(f"{h:>18}" for _, h, _ in SPAN_COLS))
    for s in spans:
        cells = [pair(p.get(f"{s}.{k}"), c.get(f"{s}.{k}"), fmt) for k, _, fmt in SPAN_COLS]
        print(f"{s:<{width}}  " + "  ".join(f"{x:>18}" for x in cells))

    layers = [m["name"] for m in
              json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]]
    in_span = lambda k: any(k.startswith(s + ".") for s in spans)
    rest = sorted({k for m in (p, c) for k in m if k not in layers and not in_span(k)})
    print()
    for k in layers + rest:
        if k in p or k in c:
            print(f"{k:<{width}}  {pair(p.get(k), c.get(k), '{:.4g}'):>18}")


if __name__ == "__main__":
    main()
