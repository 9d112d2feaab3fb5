#!/usr/bin/env python3
"""Steadiness command: runs each workload several times, one seed per
run, and prints for every end-to-end metric the median, the quartiles
and the spread (interquartile range over median) against the bound in
BENCHMARK.json, plus the attempted and failed operations of each run.

Usage (from the repository root):

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]
                                [--seconds <run_seconds>] [--trace 0|1]
                                [--save set.json] [--compare earlier.json]

Every run is a separate `perfbench/run.py` process, hence its own JVM,
run directory, temp directory and SPARK_LOCAL_DIRS. `--save` writes the
medians and failed shares of this set; `--compare` holds this set
against a saved one.

Exit code 1 when a run fails, a check fails, the failed share differs
between runs, a spread other than that of setup_s exceeds its bound, or
(with `--compare`) a median, setup_s included, is worse than the saved
one by more than its bound or a failed share differs from the saved one.
The spread of setup_s is printed but not held to its bound: set-up is
compared between sets by its median only.
"""
import argparse
import json
import statistics
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_set(w, args, bounds):
    """Runs one workload `args.runs` times; returns (ok, summary)."""
    ok = True
    results = []
    for k in range(args.runs):
        seed = args.first_seed + k
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        t0 = time.monotonic()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        wall = time.monotonic() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if res is None or p.returncode != 0 or not res["correct"]:
            ok = False
        if res is None:
            print(f"{w} seed {seed}: no result (exit {p.returncode})")
            continue
        print(f"{w} seed {seed}: wall={wall:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} " + " ".join(
                  f"{n}={v['value']:.4g}" for n, v in res["metrics"].items()), flush=True)
        results.append(res)
    if len(results) < 2:
        return False, None
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    if len(shares) > 1:
        ok = False
        print(f"{w}: failed share differs between runs: {shares}")
    print(f"== {w}: {len(results)} runs")
    print(f"   {'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    medians = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        medians[name] = med
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = "ok" if spread <= bound / 3 else ("wide" if spread <= bound else "OVER")
            if name == "setup_s":
                flag += " (not gated)"
            elif spread > bound:
                ok = False
        print(f"   {name:<28} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f} "
              f"{'' if bound is None else bound:>6} {flag}")
    return ok, {"medians": medians, "failed_shares": shares}


def compare(w, now, before, spec):
    """Holds this set's medians against a saved set's; True if within bounds."""
    ok = True
    if now["failed_shares"] != before["failed_shares"]:
        ok = False
        print(f"{w}: failed share {now['failed_shares']}, saved set {before['failed_shares']}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a, b = before["medians"][name], now["medians"][name]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        verdict = "ok" if worse <= bound else "WORSE"
        ok = ok and worse <= bound
        print(f"   {name:<28} saved {a:>12.4f} now {b:>12.4f} worse by {worse:>7.3f} "
              f"(bound {bound}) {verdict}")
    return ok


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save")
    ap.add_argument("--compare")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    before = None
    if args.compare:
        with open(args.compare) as fh:
            before = json.load(fh)
    ok = True
    saved = {}
    for w in args.workloads.split(","):
        w_ok, summary = run_set(w, args, bounds)
        ok = ok and w_ok
        if summary is None:
            continue
        saved[w] = summary
        if before is not None and w in before:
            print(f"== {w}: against {args.compare}")
            ok = compare(w, summary, before[w], spec) and ok
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(saved, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
