#!/usr/bin/env python3
"""Alternating A/B pairs of untraced perfbench runs: parent vs change.

    tools/ab_pairs.py <parent-checkout> <change-checkout> --workload W --seeds 601 602 ...

Each seed is one pair: the parent and the change run the same workload and
seed, one after the other, and the side that runs first alternates from pair
to pair. Every run is printed as it finishes. At the end, for each end-to-end
metric of the change checkout's BENCHMARK.json, the script prints both
medians, how many pairs the change won, and the parent's IQR: a gain counts
only when the change wins at least 9 of 10 pairs and the medians differ by
more than the parent's IQR (ROADMAP.md).

Exits 1 when any run fails an operation (`failed` > 0), is not `correct`, or
prints no result line. Runs go one at a time: parallel runs on a shared box
skew both sides.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip().startswith("{")]
    return json.loads(lines[-1]) if lines else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--out", help="also write every run's result line here (JSON)")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs = {"parent": {}, "change": {}}
    bad = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run(getattr(args, side), args.workload, seed, args.seconds)
            runs[side][seed] = res
            if res is None or res.get("failed", 1) > 0 or not res.get("correct"):
                bad.append(f"{side} seed {seed}")
            vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                            for m in metrics if res and m["name"] in res.get("metrics", {}))
            print(f"{args.workload} seed {seed} {side}: "
                  f"failed={res.get('failed') if res else '?'} {vals}", flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    pairs = [s for s in args.seeds
             if runs["parent"].get(s) and runs["change"].get(s)]
    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {pairs}")
    print(f"{'metric':18} {'parent':>10} {'change':>10} {'delta':>8} {'wins':>6} {'parent IQR':>11}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [runs["parent"][s]["metrics"][name]["value"] for s in pairs]
        c = [runs["change"][s]["metrics"][name]["value"] for s in pairs]
        if not p:
            continue
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"{name:18} {pm:10.4g} {cm:10.4g} {delta:+7.1f}% {wins:3}/{len(pairs):<2} {q3 - q1:11.4g}")
    if bad:
        print("FAILED runs: " + ", ".join(bad), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
