#!/usr/bin/env python3
"""Alternating-order A/B of the repository benchmark between two checkouts.

Runs `python3 perfbench/run.py` in a PARENT and a CHANGE checkout, one pair
per seed, the order alternating from pair to pair (parent first on even
pairs), and prints per end-to-end metric of BENCHMARK.json the median
[q1-q3] of each side, the pairs the change won and the median shift, then
each run's `correct`/`attempted`/`failed`. Seeds should be fresh (not used
for development). Each checkout is built once before the pairs, so no
timed run pays a compile. Nothing under either checkout's `perfbench/` or
`BENCHMARK.json` is written.

Usage (from anywhere):
    python3 tools/ab.py --parent /path/to/parent --change . \\
        --workload cdc_lake --seeds 901-910 [--seconds 10] [--json out.json]
"""
import argparse
import json
import os
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def at(p):
        k = (len(s) - 1) * p
        i = int(k)
        return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (k - i)
    return at(0.25), at(0.5), at(0.75)


def build(checkout):
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout, check=True,
                   stdout=subprocess.DEVNULL)


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": (p.stderr or p.stdout)[-400:]}
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 901-910 or 5,7,9")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        declared = json.load(fh)["end_to_end"]
    for d in sides.values():
        build(d)
    runs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "order": order}
        for side in order:
            pair[side] = run(sides[side], args.workload, seed, args.seconds)
        runs.append(pair)
        print(f"# pair {i + 1} seed {seed} ({order[0]} first): " + ", ".join(
            f"{s} {pair[s]['metrics'].get('latency_p50_s', {}).get('value', float('nan')):.3f}"
            for s in ("parent", "change")), flush=True)
    print(f"{args.workload}: {len(runs)} alternating pairs, median [q1-q3] parent -> change, "
          "pairs the change won, median shift")
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [r[s]["metrics"].get(name, {}).get("value") for r in runs] for s in sides}
        ok = [i for i in range(len(runs)) if None not in (vals["parent"][i], vals["change"][i])]
        if not ok:
            print(f"  {name}: no values")
            continue
        p = [vals["parent"][i] for i in ok]
        c = [vals["change"][i] for i in ok]
        won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        shift = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"  {name} ({m['unit']}, {m['better']} is better): {pm:.4g} [{p1:.4g}-{p3:.4g}] -> "
              f"{cm:.4g} [{c1:.4g}-{c3:.4g}], won {won}/{len(ok)}, {shift:+.1f} %, "
              f"parent IQR {p3 - p1:.4g}")
    for r in runs:
        print(f"  seed {r['seed']}: " + "; ".join(
            f"{s} correct={r[s].get('correct')} attempted={r[s].get('attempted')} "
            f"failed={r[s].get('failed')}" + (f" error={r[s]['error']!r}" if "error" in r[s] else "")
            for s in ("parent", "change")))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
