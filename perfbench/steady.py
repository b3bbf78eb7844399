"""Steadiness check of the benchmark. From the repository root:

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]
                                [--first-seed 1] [--out results.json]

Runs every workload (or the named ones) K times per set, each run with
another seed, and prints per end-to-end metric the median, the quartiles
and the spread (distance between the quartiles as a share of the median).
With two sets it also compares them the way a regression gate would, under
the bounds in BENCHMARK.json:
  - each spread except that of setup_s stays within its metric's bound;
  - the second set's median is not worse than the first's by more than the
    bound, setup_s included;
  - the share of failed operations is the same in both sets.
Exits 1 if a run fails or a comparison does not hold. `--load` re-reads a
saved --out file instead of running.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        return {"ok": False, "seed": seed, "wall_s": wall}
    out = json.loads(lines[-1])
    return {"ok": out["correct"], "seed": seed, "wall_s": wall, "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()}}


def summary(runs, name):
    vals = [r["metrics"][name] for r in runs if r.get("ok") and name in r.get("metrics", {})]
    if len(vals) < 2:
        return None
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(statistics.median(vals)), "n": len(vals)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--load")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]

    if args.load:
        with open(args.load) as fh:
            sets = json.load(fh)
    else:
        sets = []
        for s in range(args.sets):
            runs = {}
            for w in workloads:
                runs[w] = []
                for i in range(args.runs):
                    seed = args.first_seed + s * args.runs + i
                    r = run_once(w, seed, spec["run_seconds"])
                    runs[w].append(r)
                    print(f"set {s + 1} {w} seed {seed}: ok={r['ok']} wall={r['wall_s']:.1f} s",
                          file=sys.stderr)
            sets.append(runs)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(sets, fh, indent=1)

    ok = True
    for w in workloads:
        print(f"== {w}")
        for si, runs in enumerate(sets):
            runs = runs[w]
            bad = [r["seed"] for r in runs if not r["ok"]]
            if bad:
                ok = False
                print(f"  set {si + 1}: failed runs, seeds {bad}")
            att = sum(r.get("attempted", 0) for r in runs)
            fail = sum(r.get("failed", 0) for r in runs)
            walls = [r["wall_s"] for r in runs]
            print(f"  set {si + 1}: runs={len(runs)} failed ops {fail}/{att} "
                  f"run wall median {statistics.median(walls):.1f} s max {max(walls):.1f} s")
            for name, m in e2e.items():
                st = summary(runs, name)
                if st is None:
                    continue
                limit = m["bound"]
                steady = name == "setup_s" or st["spread"] <= limit
                ok &= steady
                print(f"    {name:18s} median {st['median']:12.4f} q1 {st['q1']:12.4f} "
                      f"q3 {st['q3']:12.4f} spread {st['spread']:.3f} (bound {limit}, "
                      f"a third {limit / 3:.3f}){'' if steady else '  SPREAD OVER BOUND'}")
        if len(sets) == 2:
            a, b = sets[0][w], sets[1][w]
            share = [sum(r.get("failed", 0) for r in s) / max(1, sum(r.get("attempted", 0) for r in s))
                     for s in (a, b)]
            if share[0] != share[1]:
                ok = False
                print(f"  failed share differs: {share[0]} vs {share[1]}")
            for name, m in e2e.items():
                sa, sb = summary(a, name), summary(b, name)
                if sa is None or sb is None:
                    continue
                change = (sb["median"] - sa["median"]) / abs(sa["median"])
                worse = change if m["better"] == "lower" else -change
                held = worse <= m["bound"]
                ok &= held
                print(f"    {name:18s} set 2 vs set 1: {change:+.3f} "
                      f"({'holds' if held else 'WORSE THAN BOUND'})")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
