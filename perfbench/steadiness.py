#!/usr/bin/env python3
"""Steadiness test of the benchmark itself.

    python3 perfbench/steadiness.py [--workloads nhl_daily,corpus_dedup_ann]
                                    [--seeds 10] [--sets 2]

Runs every workload once per seed (seeds 1..N), `--sets` times over, with
the run length BENCHMARK.json fixes. For each end-to-end metric it prints
each set's median and its spread (distance between the first and third
quartile, as a share of the median), and the drift of the second set's
median from the first's. It fails when a spread or a drift is beyond the
metric's bound, or when a run fails its check.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    """One run's result (None if it failed) and its elapsed seconds."""
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    elapsed = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, elapsed
    r = json.loads(lines[-1])
    return (r if r["correct"] else None), elapsed


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    metrics = bench["end_to_end"]
    ok = True
    runs = []
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals = {m["name"]: [] for m in metrics}
            for seed in range(1, a.seeds + 1):
                r, elapsed = run(w, seed, bench["run_seconds"])
                runs.append(elapsed)
                if r is None:
                    print(f"{w} set {s + 1} seed {seed}: run failed")
                    ok = False
                    continue
                for m in metrics:
                    vals[m["name"]].append(r["metrics"][m["name"]]["value"])
                print(f"{w} set {s + 1} seed {seed}: " + " ".join(
                    f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics) +
                    f" (run {elapsed:.0f} s)", flush=True)
            sets.append(vals)
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols = []
            for vals in sets:
                xs = vals[name]
                if len(xs) < 2:
                    ok = False
                    continue
                sp = spread(xs)
                cols.append(f"median {statistics.median(xs):.4g} spread {sp:.3f}")
                if sp > bound:
                    ok = False
                    cols[-1] += " (beyond bound)"
            line = f"{w:18s} {name:12s} bound {bound:.2f} | " + " | ".join(cols)
            if len(sets) > 1 and all(len(v[name]) >= 2 for v in sets):
                m1, m2 = (statistics.median(v[name]) for v in sets[:2])
                worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                line += f" | drift {worse:+.3f}"
                if worse > bound:
                    ok = False
                    line += " (beyond bound)"
            print(line, flush=True)
    print(f"{len(runs)} runs, median {statistics.median(runs):.0f} s, total {sum(runs):.0f} s")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
