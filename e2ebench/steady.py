#!/usr/bin/env python3
"""Steadiness check for the end-to-end benchmark.

    python3 e2ebench/steady.py --workload <name|all>

Runs one workload 10 times, on seeds 1-10, and prints per end-to-end
metric the median, the quartiles (statistics.quantiles, n=4) and the
spread (Q3 - Q1) / median against the metric's bound from BENCHMARK.json.
It then runs 3 more times on seeds nobody tuned against (9001-9003) and
reports whether every run was correct and how far their median sits from
the first set's median, again against the bound. Exits non-zero when a
run fails, a spread exceeds its bound, or a fresh-seed median is worse
than the first median by more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS, SEED0 = 10, 1
FRESH_RUNS, FRESH_SEED0 = 3, 9001


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    result = json.loads(lines[-1])
    host = json.loads(lines[-2]).get("host", {}) if len(lines) > 1 else {}
    result["loadavg_before"] = host.get("before", {}).get("loadavg", [None])[0]
    return result


def worse(metric, value, ref):
    """Relative amount by which value is worse than ref (<= 0: not worse)."""
    if ref == 0:
        return 0.0
    d = (value - ref) / ref
    return d if metric["better"] == "lower" else -d


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    ok = True
    report = {}
    for w in names if args.workload == "all" else [args.workload]:
        sets = {}
        for label, seed0, n in (("tuned", SEED0, RUNS),
                                ("fresh", FRESH_SEED0, FRESH_RUNS)):
            results = [run_once(w, seed0 + i, seconds) for i in range(n)]
            bad = [seed0 + i for i, r in enumerate(results)
                   if r is None or not r["correct"] or r["failed"]]
            if bad:
                ok = False
                print(f"{w}: {label} seeds {bad} failed or were incorrect")
            sets[label] = [r for r in results if r is not None]
        print(f"\n{w}: {len(sets['tuned'])} tuned runs, {len(sets['fresh'])} fresh runs")
        print(f"{'metric':18} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} "
              f"{'bound':>6} {'fresh_median':>13} {'fresh_worse':>11}")
        report[w] = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in sets["tuned"]]
            fresh = [r["metrics"][m["name"]]["value"] for r in sets["fresh"]]
            if len(vals) < 2:
                ok = False
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            fmed = statistics.median(fresh) if fresh else float("nan")
            fworse = worse(m, fmed, med) if fresh else 0.0
            flag = ""
            if spread > m["bound"]:
                ok, flag = False, "  SPREAD>BOUND"
            elif spread > m["bound"] / 3:
                flag = "  spread>bound/3"
            if fworse > m["bound"]:
                ok, flag = False, flag + "  FRESH WORSE"
            print(f"{m['name']:18} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
                  f"{m['bound']:6.2f} {fmed:13.4f} {fworse:11.3f}{flag}")
            report[w]["loadavg_before"] = [r["loadavg_before"] for r in sets["tuned"]]
            report[w][m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                    "spread": spread, "bound": m["bound"],
                                    "values": vals, "fresh_values": fresh}
    os.makedirs(os.path.join(ROOT, ".e2ebench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".e2ebench_out", f"steady-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
