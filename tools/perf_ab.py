#!/usr/bin/env python3
"""Alternating parent/change A/B of one benchmark workload.

    python3 tools/perf_ab.py <parent-checkout> <workload> <seed> [<seed> ...]

Run it from the root of the changed checkout; <parent-checkout> is a clone
of the parent commit outside the repository. For every seed it runs
`python3 perfbench/run.py --workload <workload> --seed <seed> --seconds 10
--trace 0` once in each checkout, the parent first on odd seeds and the
change first on even ones, so that drift of the box does not favour one
side. It prints every pair, then per end-to-end metric of BENCHMARK.json
each side's median and quartiles, the change/parent ratio of the medians,
the pairs the change won, whether the medians differ by more than the
parent's interquartile range, and a no-regression verdict against that
metric's `bound`:

  worse       the change's median is worse than the parent's by more than
              the bound (relative to the parent's median);
  unresolved  the parent's IQR/median is wider than the bound, and not
              every change run beats every parent run;
  ok          otherwise.

It exits 1 if any metric is `worse`, or if any run was not `correct`,
failed an operation or printed no result.
"""
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(checkout, workload, seed):
    """One benchmark run: its metric values, or None with the reason."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "10", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {p.returncode}, no result line"
    if not out.get("correct") or out.get("failed"):
        return None, f"correct={out.get('correct')} failed={out.get('failed')}"
    return {k: v["value"] for k, v in out["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(a, b, lower, bound):
    """`worse`, `unresolved` or `ok` for parent runs `a` and change runs `b`."""
    (a1, a2, a3), b2 = quartiles(a), statistics.median(b)
    loss = (b2 - a2) if lower else (a2 - b2)
    if a2 and loss / abs(a2) > bound:
        return "worse"
    beats_all = max(b) < min(a) if lower else min(b) > max(a)
    if a2 and (a3 - a1) / abs(a2) > bound and not beats_all:
        return "unresolved"
    return "ok"


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    parent, workload, seeds = os.path.abspath(sys.argv[1]), sys.argv[2], [int(s) for s in sys.argv[3:]]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": parent, "change": ROOT}
    pairs, bad, worse = [], [], []
    for seed in seeds:
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        got = {}
        for side in order:
            got[side], err = run(sides[side], workload, seed)
            if err:
                bad.append(f"seed {seed} {side}: {err}")
                print(f"seed {seed} {side}: NOT CORRECT ({err})", flush=True)
        if got["parent"] and got["change"]:
            pairs.append(got)
            print(f"seed {seed} ({order[0]} first): " + "  ".join(
                f"{m['name']} {got['parent'][m['name']]:.4g}/{got['change'][m['name']]:.4g}"
                for m in metrics), flush=True)
    if pairs:
        print(f"\n{workload}: {len(pairs)} pairs, median (q1-q3), parent -> change")
    for m in metrics if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"][name] for p in pairs]
        b = [p["change"][name] for p in pairs]
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        ratio = b2 / a2 if a2 else float("nan")
        v = verdict(a, b, lower, m["bound"])
        if v == "worse":
            worse.append(name)
        print(f"  {name}: {a2:.4g} ({a1:.4g}-{a3:.4g}) -> {b2:.4g} ({b1:.4g}-{b3:.4g})"
              f"  x{ratio:.3f}  wins {wins}/{len(pairs)}"
              f"  |median diff| > parent IQR: {abs(b2 - a2) > a3 - a1}"
              f"  bound {m['bound']}: {v}")
    if bad:
        print("\nnot correct:\n  " + "\n  ".join(bad))
    if worse:
        print("\nworse than the parent by more than the bound: " + ", ".join(worse))
    if bad or worse:
        sys.exit(1)


if __name__ == "__main__":
    main()
