#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in alternating pairs.

    python3 scripts/bench_pairs.py <parent-dir> <change-dir> --workload W --pairs N
                                   [--seed S] [--seconds T] [--out DIR]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds T
--trace 0` once in each checkout, the same seed and seconds on both sides;
even pairs run the parent first, odd pairs the change first. Every run is
kept, contended or not, and its full stdout and stderr are written to
DIR/pairNN_<side>.out and .err (DIR defaults to a new temporary
directory). For each end-to-end metric of the change's BENCHMARK.json the
script then prints each side's median and quartiles and the number of
pairs the change won (strictly better in the metric's direction) and a
verdict (see `verdict`), and it prints the steal_pct and the exit code of
every run. Run from anywhere; each checkout builds itself on its first
run. Exits 1 if any run failed. `scripts/test_bench_pairs.py` tests the
verdicts on canned numbers, with no JVM.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile

SIDES = ("parent", "change")


def run_one(root, workload, seed, seconds, out_base):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    with open(out_base + ".out", "w") as f:
        f.write(p.stdout)
    with open(out_base + ".err", "w") as f:
        f.write(p.stderr)
    lines = p.stdout.strip().splitlines()
    steal = re.search(r"steal_pct=([0-9.]+)", p.stdout)
    try:
        metrics = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    except (IndexError, ValueError, KeyError):
        metrics = {}
    return {"rc": p.returncode, "steal_pct": float(steal.group(1)) if steal else None,
            "metrics": metrics}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, won, pairs, lower, bound):
    """One metric's verdict over `pairs` alternating pairs, of which the
    change won `won`; `parent` and `change` are each side's values and
    `bound` the metric's BENCHMARK.json bound, a fraction of the parent's
    median.

    - "gain": the change won at least nine tenths of the pairs, and its
      median is better than the parent's by more than the parent's IQR;
    - "worse": the change's median is worse than the parent's by more
      than the bound;
    - "unresolved": either side's IQR is wider than the bound (as a
      fraction of its median), unless every change run beats every
      parent run;
    - "no worse" otherwise.
    """
    if not parent or not change:
        return "unresolved"
    pm, cm = statistics.median(parent), statistics.median(change)
    better = (pm - cm) if lower else (cm - pm)
    lo, hi = quartiles(parent)
    if won >= 0.9 * pairs and better > hi - lo:
        return "gain"
    if -better > bound * abs(pm):
        return "worse"
    every = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    spread = max((q[1] - q[0]) / abs(m) if m else float("inf")
                 for q, m in ((quartiles(parent), pm), (quartiles(change), cm)))
    if spread > bound and not every:
        return "unresolved"
    return "no worse"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--out", help="directory for every run's stdout and stderr")
    a = ap.parse_args()

    roots = dict(zip(SIDES, (os.path.abspath(a.parent), os.path.abspath(a.change))))
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    out = a.out or tempfile.mkdtemp(prefix="bench_pairs_")
    os.makedirs(out, exist_ok=True)
    print(f"runs kept in {out}", flush=True)

    runs = []  # (pair, seed, first side, {side: run})
    for i in range(a.pairs):
        seed = a.seed + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {}
        for side in order:
            r = run_one(roots[side], a.workload, seed, a.seconds,
                        os.path.join(out, f"pair{i:02d}_{side}"))
            pair[side] = r
            print(f"pair {i} seed {seed} {side}: rc={r['rc']} steal_pct={r['steal_pct']} "
                  + " ".join(f"{k}={v:.4f}" for k, v in sorted(r["metrics"].items())),
                  flush=True)
        runs.append((i, seed, order[0], pair))

    print()
    print(f"workload={a.workload} pairs={a.pairs} seconds={a.seconds} seeds={a.seed}.."
          f"{a.seed + a.pairs - 1}")
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        cols = []
        values = {}
        for side in SIDES:
            xs = [p[side]["metrics"][name] for _, _, _, p in runs if name in p[side]["metrics"]]
            values[side] = xs
            med = statistics.median(xs) if xs else float("nan")
            lo, hi = quartiles(xs)
            cols.append(f"{side} median {med:.4f} (IQR {lo:.4f}-{hi:.4f}, n={len(xs)})")
        won = sum(1 for _, _, _, p in runs
                  if name in p["parent"]["metrics"] and name in p["change"]["metrics"]
                  and ((p["change"]["metrics"][name] < p["parent"]["metrics"][name]) if lower
                       else (p["change"]["metrics"][name] > p["parent"]["metrics"][name])))
        v = verdict(values["parent"], values["change"], won, len(runs), lower, m["bound"])
        print(f"{name} ({m['better']} is better): " + "; ".join(cols)
              + f"; change won {won}/{len(runs)} pairs; verdict: {v}")
    print("steal_pct per run (pair seed first: parent change):")
    for i, seed, first, p in runs:
        print(f"  {i} {seed} {first}: {p['parent']['steal_pct']} {p['change']['steal_pct']}"
              + ("" if p["parent"]["rc"] == 0 and p["change"]["rc"] == 0 else
                 f"  rc parent={p['parent']['rc']} change={p['change']['rc']}"))
    failed = any(p[s]["rc"] != 0 for _, _, _, p in runs for s in SIDES)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
