#!/usr/bin/env python3
"""Per-query spread over N full `graft.Bench` artifacts of the same code.

Usage:
  python3 tools/bench_soak.py run1.json run2.json [run3.json ...]

Prints per-run totals, the per-query cold spread (max/min ratio across
runs), the queries whose spread exceeds 1.3x, and a one-line error bar
(median, p90 and max spread over the queries of at least one second).
It reads the artifacts and writes nothing. Every run given is counted:
the tool never drops a run, so the error bar is that of the runs as
measured. For a same-host A/B of two checkouts use `tools/bench_ab.py`.
"""
import argparse
import json
import statistics
import sys


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append((p, json.load(f)))
    return runs


def analyze(runs):
    names = set(runs[0][1]["queries"])
    for _, j in runs[1:]:
        names &= set(j["queries"])
    spreads = []
    for q in sorted(names):
        colds = [j["queries"][q] for _, j in runs]
        lo, hi = min(colds), max(colds)
        if lo > 0:
            spreads.append((hi / lo, q, lo, hi))
    spreads.sort(reverse=True)
    return spreads


def report(runs, spreads):
    for p, j in runs:
        hs = len(j.get("high_steal", []))
        print(f"{p}: total={j['value']:.1f}s n={len(j['queries'])} "
              f"high_steal={hs}")
    noisy = [s for s in spreads if s[0] > 1.3 and s[3] >= 1.0]
    print(f"\nqueries with >1.3x cold spread across runs (>=1s): {len(noisy)}")
    for r, q, lo, hi in noisy[:20]:
        per_run = " ".join(f"{j['queries'][q]:.2f}" for _, j in runs)
        print(f"  {q}: {r:.2f}x  [{per_run}]")
    ratios = sorted(s[0] for s in spreads if s[3] >= 1.0)
    if ratios:
        med = statistics.median(ratios)
        p90 = ratios[int(0.9 * (len(ratios) - 1))]
        print(f"\nerror bar over >=1s queries (n={len(ratios)}): "
              f"median spread {med:.2f}x, p90 {p90:.2f}x, max {ratios[-1]:.2f}x")
    totals = [j["value"] for _, j in runs]
    print(f"totals: min {min(totals):.1f}s max {max(totals):.1f}s "
          f"(spread {max(totals)/min(totals):.2f}x)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="+")
    args = ap.parse_args()
    runs = load(args.files)
    if len(runs) < 2:
        sys.exit("need at least two artifacts")
    report(runs, analyze(runs))


if __name__ == "__main__":
    main()
