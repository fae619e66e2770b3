#!/usr/bin/env python3
"""Alternating parent/change pairs of the end-to-end benchmark.

    python3 tools/e2e_pairs.py --parent <checkout> --change <checkout> \\
        --workload <name> --seeds 1-10,9001 [--out <file>]

For each seed it runs `python3 e2ebench/run.py --workload <name> --seed <s>
--seconds <run_seconds> --trace 0` once in each checkout; the side that
runs first alternates from pair to pair, starting with the parent. Both
checkouts must hold the same e2ebench/ (the script refuses otherwise):
each builds its own engine on its first run.

It prints the per-run table in run order and then, per end-to-end metric
of BENCHMARK.json, each side's median with its lower and upper quartile
(statistics.quantiles, n=4), the relative change of the median, and the
number of pairs in which the change is strictly better (ties count for
neither side). The last lines apply the gain rule: a metric counts as
improved only when the change is better in at least nine tenths of the
pairs and the medians differ by more than the parent's interquartile
range; every other metric is checked against its bound. A run that fails
or reports an incorrect result is listed and left out of the statistics.
"""
import argparse
import filecmp
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            seeds += range(int(a), int(b) + 1)
        elif part:
            seeds.append(int(part))
    return seeds


def same_bench(a, b):
    """True when both checkouts hold byte-identical e2ebench/ sources."""
    def files(root):
        base = os.path.join(root, "e2ebench")
        out = {"run.py", "build.sbt"}
        for d, _, fs in os.walk(os.path.join(base, "src")):
            out |= {os.path.relpath(os.path.join(d, f), base) for f in fs}
        return out
    fa = files(a)
    return fa == files(b) and all(
        filecmp.cmp(os.path.join(a, "e2ebench", f),
                    os.path.join(b, "e2ebench", f), shallow=False)
        for f in fa)


def run_once(checkout, workload, seed, seconds):
    """One untraced run: (metrics dict or None, correct)."""
    p = subprocess.run([sys.executable, os.path.join("e2ebench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, False
    result = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    return metrics, bool(result.get("correct"))


def better(metric, change, parent):
    return change < parent if metric["better"] == "lower" else change > parent


def worse_by(metric, change, parent):
    """Relative amount by which change is worse than parent (<= 0: not)."""
    if parent == 0:
        return 0.0
    d = (change - parent) / parent
    return d if metric["better"] == "lower" else -d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10,9001")
    ap.add_argument("--out", help="also write the report to this file")
    ap.add_argument("--label-parent", default="", help="shown in the header")
    ap.add_argument("--label-change", default="", help="shown in the header")
    args = ap.parse_args()

    bench = json.load(open(os.path.join(args.change, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {args.workload}")
    if not same_bench(args.parent, args.change):
        sys.exit("the two checkouts hold different e2ebench/ sources")
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    seeds = parse_seeds(args.seeds)

    out = []

    def emit(line=""):
        print(line, flush=True)
        out.append(line)

    emit(f"{args.workload}, python3 e2ebench/run.py --workload {args.workload} "
         f"--seed <s> --seconds {seconds:g} --trace 0")
    emit(f"{os.cpu_count()}-core host; pairs in run order, the side that ran "
         "first alternates")
    emit(f"parent = {args.label_parent or os.path.abspath(args.parent)}, "
         f"change = {args.label_change or os.path.abspath(args.change)}")
    emit()
    emit(f"{'side':<7}{'seed':>6}" +
         "".join(f"{m['name']:>17}" for m in metrics))
    runs = {"parent": {}, "change": {}}
    failed = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            vals, correct = run_once(sides[side], args.workload, seed, seconds)
            if vals is None or not correct:
                failed.append(f"{side} seed {seed}: "
                              f"{'failed' if vals is None else 'incorrect'}")
                emit(f"{side:<7}{seed:>6}  {failed[-1]}")
                continue
            runs[side][seed] = vals
            emit(f"{side:<7}{seed:>6}" +
                 "".join(f"{vals.get(m['name'], float('nan')):>17.2f}"
                         for m in metrics))

    paired = [s for s in seeds if s in runs["parent"] and s in runs["change"]]
    emit()
    emit("summary: median [lower quartile, upper quartile] per side, "
         "change-better pairs")
    emit(f"  == {args.workload}: {sum(len(r) for r in runs.values())} runs, "
         f"{len(paired)} complete pairs")
    verdicts = []
    for m in metrics:
        name = m["name"]
        cols = {}
        for side in ("parent", "change"):
            v = [runs[side][s][name] for s in paired]
            if len(v) >= 2:
                q1, _, q3 = statistics.quantiles(v, n=4)
            else:
                q1 = q3 = v[0] if v else float("nan")
            cols[side] = (statistics.median(v) if v else float("nan"), q1, q3)
        wins = sum(better(m, runs["change"][s][name], runs["parent"][s][name])
                   for s in paired)
        pm, pq1, pq3 = cols["parent"]
        cm, cq1, cq3 = cols["change"]
        d = (cm - pm) / pm * 100 if pm else 0.0
        emit(f"  {name:<18} parent {pm:>10.2f} [{pq1:.2f},{pq3:.2f}]  "
             f"change {cm:>10.2f} [{cq1:.2f},{cq3:.2f}]  d={d:+.1f}%  "
             f"change better {wins}/{len(paired)}")
        gain = (paired and wins * 10 >= 9 * len(paired)
                and abs(cm - pm) > (pq3 - pq1) and better(m, cm, pm))
        over = worse_by(m, cm, pm) > m["bound"]
        verdicts.append(f"  {name:<18} " + (
            "improved (gain rule met)" if gain else
            f"worse than the bound {m['bound']:.0%}" if over else
            f"within the bound {m['bound']:.0%}"))
    emit("  correct: " + ("all" if not failed else "; ".join(failed)))
    emit()
    emit("gain rule: change better in >= 9/10 of the pairs and |median "
         "difference| > the parent's interquartile range")
    for v in verdicts:
        emit(v)
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(out) + "\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
