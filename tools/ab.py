#!/usr/bin/env python3
"""Interleaved A/B of the perfbench benchmark between two checkouts.

    python3 tools/ab.py <parent_dir> <change_dir> --workload index_churn --seeds 101-110

Runs `python3 perfbench/run.py --workload W --seed S` from each checkout's
root, one pair per seed, alternating which side runs first (even pairs
start with the parent). For every end-to-end metric that the change's
BENCHMARK.json lists, prints each side's median and quartiles, the pairs
the change won (ties count for neither side) and whether the claim rule
holds: the change wins at least nine tenths of the pairs, and the medians
differ in the better direction by more than the parent's quartile
distance. Every other `metric` line a run prints is summarized by median
only. A run that exits non-zero or prints no result object is reported;
its pair is left out of the medians and counts as not won. Standard
library only.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(root, workload, seed):
    """One benchmark run; returns {metric: value} or None if it failed."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed)], cwd=root, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    if r.returncode != 0 or res is None:
        print(f"  {root}: seed {seed} failed (exit {r.returncode}): "
              f"{r.stderr.strip()[-300:]}", file=sys.stderr)
        return None
    metrics = {}
    for ln in lines:
        if ln.startswith("metric "):
            _, name, value, _unit, *_ = ln.split()
            metrics[name] = float(value)
    metrics.update({k: v["value"] for k, v in res["metrics"].items()})
    return metrics


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    args = ap.parse_args()
    sides = {"parent": pathlib.Path(args.parent_dir).resolve(),
             "change": pathlib.Path(args.change_dir).resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["better"] for m in spec["end_to_end"]}

    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {side: run(sides[side], args.workload, seed) for side in order}
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{side} " + (f"op_p50_ms={got[side].get('op_p50_ms', float('nan')):.1f}"
                          if got[side] else "FAILED") for side in ["parent", "change"]),
              flush=True)
        pairs.append({"seed": seed, "first": order[0], **got})

    ok = [p for p in pairs if p["parent"] and p["change"]]
    print(f"\n{args.workload}: {len(ok)} of {len(pairs)} pairs complete")
    if not ok:
        sys.exit(1)
    names = sorted(set(ok[0]["parent"]) & set(ok[0]["change"]))
    for name in [n for n in names if n in e2e] + [n for n in names if n not in e2e]:
        a = [p["parent"][name] for p in ok]
        b = [p["change"][name] for p in ok]
        qa, qb = quartiles(a), quartiles(b)
        rel = f"{(qb[1] - qa[1]) / qa[1] * 100:+6.1f}%" if qa[1] else "    n/a"
        line = (f"{name:28s} parent {qa[1]:10.3f} [{qa[0]:.3f}, {qa[2]:.3f}]   "
                f"change {qb[1]:10.3f} [{qb[0]:.3f}, {qb[2]:.3f}]   {rel}")
        if name in e2e:
            sign = -1 if e2e[name] == "lower" else 1
            won = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
            gap = sign * (qb[1] - qa[1])
            # a failed pair counts as run and not won
            holds = won >= 0.9 * len(pairs) and gap > qa[2] - qa[0]
            line += (f"   won {won}/{len(pairs)}, gap {gap:.3f} vs parent IQR {qa[2] - qa[0]:.3f}"
                     f" -> gain {'HOLDS' if holds else 'not shown'}")
        print(line)


if __name__ == "__main__":
    main()
