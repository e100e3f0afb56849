#!/usr/bin/env python3
"""Alternating parent/change A/B of one benchmark workload.

    python3 tools/bench_ab.py --parent DIR --change DIR \\
        --workload integration_large --seeds 1-10 [--seconds 40] [--out ab.json] \\
        [--layers Meta,DiffExpr]

Runs `python3 perfbench/run.py` in each checkout, one pair per seed.
Odd pairs run the parent first, even pairs the change first. Prints each
run's summary line, then, per end-to-end metric named in the parent's
BENCHMARK.json: each side's median and quartiles, the number of pairs
the change wins (ties count for neither), the change/parent median ratio
and its bound. A gain holds when the change wins at least nine tenths of
all pairs run and the medians differ by more than the parent's
interquartile range. With --layers, it then runs one `--trace 1` per side at
the first seed and prints, side by side, each named layer's jobs, s, task_s
and shuffle_mb, plus the cold and warm job totals (medians over the pairs)
and the traced run's own job count. It only invokes perfbench/run.py; it
writes nothing in either checkout beyond what that script writes.

Exit status: 0 when every run succeeded (the traced ones included), the
output digests are equal at every seed and no metric is worse than its
bound; 1 otherwise, so the script can gate another one.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

SUMMARY = re.compile(r"^\[perfbench\] \S+ seed=\d+ (cold|warm|traced) .*$")
LAYER_STATS = ("jobs", "s", "task_s", "shuffle_mb")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value repeats."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith("{") and '"metrics"' in line:
            result = json.loads(line)
            break
    counts = {}
    for line in lines:
        m = SUMMARY.match(line)
        if m:
            fields = dict(kv.split("=", 1) for kv in line.split() if "=" in kv)
            counts[m.group(1)] = {k: fields[k] for k in ("jobs", "tasks", "digest")
                                  if k in fields}
    return {"rc": p.returncode, "result": result, "counts": counts}


def ok(r):
    return r["rc"] == 0 and r["result"] is not None and bool(r["result"].get("correct"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--out", help="write every run as JSON here")
    ap.add_argument("--layers", help="comma-separated layers to compare in one traced run "
                    "per side after the pairs, e.g. Meta,DiffExpr")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    runs = []
    for i, seed in enumerate(seeds(args.seeds), start=1):
        order = ["parent", "change"] if i % 2 == 1 else ["change", "parent"]
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            r = run(sides[side], args.workload, seed, args.seconds)
            pair[side] = r
            cold = r["counts"].get("cold", {})
            warm = r["counts"].get("warm", {})
            vals = r["result"]["metrics"] if r["result"] else {}
            print("pair %2d seed %d %-6s %s jobs=%s/%s digest=%s %s" % (
                i, seed, side, "ok  " if ok(r) else "FAIL",
                cold.get("jobs", "?"), warm.get("jobs", "?"), cold.get("digest", "?"),
                " ".join("%s=%.4g" % (k, v["value"]) for k, v in vals.items())),
                flush=True)
        runs.append(pair)

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)

    good = [p for p in runs if ok(p["parent"]) and ok(p["change"])]
    fails = {s: sum(not ok(p[s]) for p in runs) for s in sides}
    print()
    print("%s: %d pairs, %d complete; failed runs parent %d, change %d" % (
        args.workload, len(runs), len(good), fails["parent"], fails["change"]))
    if not good:
        return 1
    over_bound = []
    print("%-15s %-6s %27s %27s %5s %7s %6s %s" % (
        "metric", "unit", "parent q1 / median / q3", "change q1 / median / q3",
        "wins", "ratio", "bound", "verdict"))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["result"]["metrics"][name]["value"] for p in good]
        chg = [p["change"]["result"]["metrics"][name]["value"] for p in good]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        worse = (ratio - 1) if lower else (1 - ratio)
        if wins >= 0.9 * len(runs) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
            verdict = "gain"
        elif worse > m["bound"]:
            verdict = "WORSE than bound"
            over_bound.append(name)
        else:
            verdict = "within bound"
        print("%-15s %-6s %8.4g / %8.4g / %8.4g %8.4g / %8.4g / %8.4g %2d/%-2d %7.3f %6.2f %s" % (
            name, m["unit"], pq[0], pq[1], pq[2], cq[0], cq[1], cq[2],
            wins, len(good), ratio, m["bound"], verdict))
    def digest(r):
        return r["counts"].get("cold", {}).get("digest")

    same = all(digest(p["parent"]) == digest(p["change"]) for p in good)
    print("output digest equal at every seed: %s" % ("yes" if same else "NO"))
    traced_ok = True
    if args.layers:
        traced_ok = compare_layers(args, sides, good, seeds(args.seeds)[0])
    return 1 if any(fails.values()) or not same or over_bound or not traced_ok else 0


def compare_layers(args, sides, good, seed):
    """One --trace 1 run per side; prints the named layers side by side.
    Returns whether both traced runs succeeded."""
    traced = {}
    for side in ("parent", "change"):
        traced[side] = run(sides[side], args.workload, seed, args.seconds, trace=1)
        print("traced seed %d %-6s %s" % (seed, side, "ok" if ok(traced[side]) else "FAIL"),
              flush=True)

    def layer(side, key):
        r = traced[side]["result"]
        v = r["metrics"].get(key) if r else None
        return "%.4g" % v["value"] if v else "?"

    def median_jobs(side, run_kind):
        xs = [int(p[side]["counts"][run_kind]["jobs"]) for p in good
              if "jobs" in p[side]["counts"].get(run_kind, {})]
        return "%g" % statistics.median(xs) if xs else "?"

    print()
    print("%-24s %12s %12s" % ("layer (trace 1, seed %d)" % seed, "parent", "change"))
    for name in [n.strip() for n in args.layers.split(",") if n.strip()]:
        for stat in LAYER_STATS:
            key = "%s.%s" % (name, stat)
            print("%-24s %12s %12s" % (key, layer("parent", key), layer("change", key)))
    for run_kind in ("cold", "warm"):
        print("%-24s %12s %12s" % ("jobs %s (pair median)" % run_kind,
                                   median_jobs("parent", run_kind), median_jobs("change", run_kind)))
    print("%-24s %12s %12s" % ("jobs traced run", *(
        traced[s]["counts"].get("traced", {}).get("jobs", "?") for s in ("parent", "change"))))
    return ok(traced["parent"]) and ok(traced["change"])


if __name__ == "__main__":
    sys.exit(main())
