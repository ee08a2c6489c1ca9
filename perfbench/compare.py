#!/usr/bin/env python3
"""Paired comparison of two commits on the benchmark.

usage: python3 perfbench/compare.py BASE CHANGE [--workload W ...]
                                    [--pairs 10] [--seconds 1]

Run inside a git clone of the repository. Each commit is exported with
`git archive` into perfbench/work/compare/<commit>, and this benchmark
directory is copied into both trees, so the two sides differ only in the
program. The first run on each side builds it. Then, for every workload,
the two sides run in alternating order (BASE first on even pairs, CHANGE
first on odd ones), with the same seed within a pair and a new seed per
pair. For every metric it prints the median and quartiles of each side,
the change of the median, and in how many pairs CHANGE was better (all
metrics are lower-is-better). A gain is worth claiming only if CHANGE wins
nearly every pair, 9 of 10 or more.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEEP_OUT = {"work", "out", "target", "project/target", "project/project"}


def export(commit, dest):
    if os.path.isdir(dest):
        return
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", commit], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    bench = os.path.join(dest, os.path.basename(HERE))
    shutil.rmtree(bench, ignore_errors=True)
    shutil.copytree(HERE, bench, ignore=lambda d, names: [
        n for n in names if os.path.relpath(os.path.join(d, n), HERE) in KEEP_OUT])


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True, timeout=1200)
    if p.returncode != 0:
        sys.exit(f"run failed in {tree} ({workload}, seed {seed}):\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", choices=("nba", "corpus-queries"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=1)
    args = ap.parse_args()
    trees = {}
    for name, commit in (("base", args.base), ("change", args.change)):
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", commit], check=True,
                             capture_output=True, text=True).stdout.strip()
        trees[name] = os.path.join(HERE, "work", "compare", sha)
        export(commit, trees[name])
    for w in args.workload or ["nba", "corpus-queries"]:
        vals = {"base": {}, "change": {}}
        failed = {"base": 0, "change": 0}
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run(trees[side], w, 1000 + i, args.seconds)
                failed[side] += r["failed"] + (0 if r["correct"] else 1)
                for k, v in r["metrics"].items():
                    vals[side].setdefault(k, []).append(v["value"])
            print(f"[{w}] pair {i + 1}/{args.pairs} done", file=sys.stderr)
        print(f"\n{w}: {args.pairs} pairs; failed or incorrect runs base {failed['base']}, "
              f"change {failed['change']}")
        print(f"{'metric':28s} {'base median [q1, q3]':>28s} {'change median [q1, q3]':>28s} "
              f"{'delta':>8s} {'wins':>6s}")
        for k in vals["base"]:
            b, c = vals["base"][k], vals["change"].get(k, [])
            if len(b) < 2 or len(c) != len(b):
                continue
            qb, qc = statistics.quantiles(b, n=4), statistics.quantiles(c, n=4)
            mb, mc = statistics.median(b), statistics.median(c)
            wins = sum(1 for x, y in zip(b, c) if y < x)
            print(f"{k:28s} {mb:10.3f} [{qb[0]:6.3f}, {qb[2]:6.3f}] "
                  f"{mc:10.3f} [{qc[0]:6.3f}, {qc[2]:6.3f}] {(mc - mb) / mb:+7.1%} "
                  f"{wins:3d}/{len(b)}")


if __name__ == "__main__":
    main()
