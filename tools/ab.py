#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload: a base revision against the
checkout it is run from.

    python3 tools/ab.py --base <rev> --workload maintain|lookup|meta \
        --pairs N [--trace 0|1]

Run from the root of a checkout. The base revision is exported (git
archive) into the git-ignored .bench_build/ab-base-<sha>/; the change side
is this checkout's working tree. Pair i (seed i + 1) runs
perfbench/run.py once on each side for BENCHMARK.json's run_seconds,
alternating which side goes first, so slow drift of the host falls on both
sides alike. Prints, per metric, each side's median and IQR/median and the
change's relative move; a metric BENCHMARK.json declares also gets the
change's per-pair wins in its declared direction. Then every run's CPU steal
ratio. The export is removed at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
BUILD_ROOT = os.path.join(ROOT, ".bench_build")


def declarations():
    """BENCHMARK.json's direction of each declared metric, and its run length."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        decl = json.load(f)
    return {m["name"]: m["better"]
            for m in decl["end_to_end"] + decl["per_layer"]}, decl["run_seconds"]


def export(rev):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    dest = os.path.join(BUILD_ROOT, "ab-base-" + sha[:12])
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    arch = subprocess.Popen(["git", "archive", "--format=tar", sha], cwd=ROOT,
                            stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=arch.stdout, check=True)
    arch.stdout.close()
    if arch.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha, dest


def run_one(cwd, workload, seed, seconds, trace):
    """One perfbench run; returns (report, result) or raises on failure."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        raise RuntimeError(f"run in {cwd} (seed {seed}) printed no result "
                           f"(exit {p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def figures(report, result):
    out = {k: v["value"] for k, v in report["metrics"].items()}
    out.update({k: v["value"] for k, v in report.get("layers", {}).items()})
    out["failed_ops"] = result["failed"]
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, declared):
    """One line per metric: medians, IQR/median, and per-pair wins (None for
    a metric without a declared direction)."""
    # a tail percentile's name depends on the run's sample count: compare
    # only the metrics every run reported
    names = sorted(set.intersection(*[set(r["base"]) & set(r["change"]) for r in runs]))
    rows = []
    for name in names:
        b = [r["base"][name] for r in runs]
        c = [r["change"][name] for r in runs]
        bq, cq = quartiles(b), quartiles(c)
        better = declared.get(name)
        wins = None if better is None else sum(
            1 for x, y in zip(b, c) if (y < x if better == "lower" else y > x))
        move = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        rows.append((name, bq[1], (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0,
                     cq[1], (cq[2] - cq[0]) / cq[1] if cq[1] else 0.0,
                     move, wins, len(runs), better or ""))
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--workload", required=True, choices=("maintain", "lookup", "meta"))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    declared, seconds = declarations()

    sha, base_dir = export(a.base)
    runs = []
    try:
        for i in range(a.pairs):
            seed = i + 1
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                cwd = base_dir if side == "base" else ROOT
                report, result = run_one(cwd, a.workload, seed, seconds, a.trace)
                pair[side] = figures(report, result)
                pair[side + "_steal"] = report["host"].get("cpu_steal_ratio")
                print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: "
                      f"cpu_s_per_op={pair[side].get('cpu_s_per_op', float('nan')):.4f} "
                      f"setup_s={pair[side].get('setup_s', float('nan')):.2f} "
                      f"failed={result['failed']} "
                      f"steal={pair[side + '_steal'] or 0.0:.3f}", flush=True)
            runs.append(pair)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    if not runs:
        return 1

    print(f"\n{a.workload}: base {sha[:12]} vs working tree, {len(runs)} pairs, "
          f"{seconds:g} s windows, trace {a.trace}")
    print(f"{'metric':34} {'base_med':>12} {'base_iqr/m':>10} {'chg_med':>12} "
          f"{'chg_iqr/m':>10} {'move':>8} {'wins':>6}  better")
    for name, bm, bi, cm, ci, move, wins, n, better in summarize(runs, declared):
        won = f"{wins:>3}/{n:<2}" if wins is not None else f"{'':6}"
        print(f"{name:34} {bm:12.6g} {bi:10.3f} {cm:12.6g} {ci:10.3f} "
              f"{move:+8.1%} {won}  {better}")
    print("\nsteal per run (pair seed first: base, change):")
    for r in runs:
        print(f"  seed {r['seed']} {r['first']:>6} first: "
              f"base {r['base_steal'] or 0.0:.3f}  change {r['change_steal'] or 0.0:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
