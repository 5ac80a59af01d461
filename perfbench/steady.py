#!/usr/bin/env python3
"""Steadiness check for the benchmark: runs every workload `--runs` times
with a different seed each time, in `--sets` sets of the same code, and
records what it saw in perfbench/STEADINESS.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

For each end-to-end metric of each workload it reports the spread of a set
(the distance between the first and third quartile, as a share of the
median) and, from the second set on, how far the median moved against the
first set in the metric's worse direction. A metric passes when its spread
(setup_s excepted) and its move stay within the metric's bound in
BENCHMARK.json; it is steady when both stay below a third of the bound.
The file also projects the wall time of a full round of 4 + 22 runs per
workload from the mean run time seen.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1]), wall


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default=os.path.join(BENCH, "STEADINESS.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    values = {w: [] for w in names}  # per workload: one {metric: [values]} per set
    walls = []
    for s in range(a.sets):
        for w in names:
            got = {m["name"]: [] for m in metrics}
            for i in range(a.runs):
                seed = a.first_seed + s * a.runs + i
                res, wall = run_once(w, seed, spec["run_seconds"])
                walls.append(wall)
                for m in metrics:
                    got[m["name"]].append(res["metrics"][m["name"]]["value"])
                print(f"set {s + 1} {w} seed {seed}: {wall:.1f} s "
                      + " ".join(f"{k}={v[-1]:.4g}" for k, v in got.items()), flush=True)
            values[w].append(got)
    summary = {}
    ok = True
    for w in names:
        summary[w] = {}
        for m in metrics:
            sets = [v[m["name"]] for v in values[w]]
            medians = [statistics.median(x) for x in sets]
            spreads = [spread(x) for x in sets]
            sign = 1 if m["better"] == "lower" else -1
            moves = [sign * (md - medians[0]) / medians[0] for md in medians[1:]]
            passed = all(x <= m["bound"] for x in moves) and (
                m["name"] == "setup_s" or all(x <= m["bound"] for x in spreads))
            steady = all(x < m["bound"] / 3 for x in moves) and (
                m["name"] == "setup_s" or all(x < m["bound"] / 3 for x in spreads))
            ok &= passed
            summary[w][m["name"]] = {"bound": m["bound"], "medians": medians,
                                     "spreads": spreads, "worse_moves": moves,
                                     "pass": passed, "steady": steady, "values": sets}
            print(f"{w:10s} {m['name']:12s} bound {m['bound']:.2f} medians "
                  + " ".join(f"{x:.4g}" for x in medians)
                  + "  spreads " + " ".join(f"{x:.3f}" for x in spreads)
                  + "  moves " + " ".join(f"{x:+.3f}" for x in moves)
                  + ("  ok" if passed else "  FAIL") + ("" if steady else " (not steady)"))
    mean_wall = statistics.mean(walls)
    projected = (4 + 22 * len(spec["workloads"])) * mean_wall
    print(f"mean run {mean_wall:.1f} s; projected round {projected:.0f} s plus builds")
    with open(a.out, "w") as f:
        json.dump({"runs": a.runs, "sets": a.sets, "first_seed": a.first_seed,
                   "run_seconds": spec["run_seconds"], "mean_run_wall_s": mean_wall,
                   "projected_round_s": projected, "workloads": summary}, f, indent=1)
        f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
