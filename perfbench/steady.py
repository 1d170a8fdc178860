#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py [--workload NAME ...] [--runs 10] [--sets 2]

Runs perfbench/run.py --runs times per workload, each with another seed,
and repeats that --sets times with the same code and seeds. For every
end-to-end metric it prints the median, the spread (distance between the
first and third quartile, statistics.quantiles(n=4), as a share of the
median) against the metric's bound from BENCHMARK.json, and how far each
later set's median moved from the first set's. Exits 1 when a spread
exceeds its bound, or a median moves by more than its bound in the worse
direction; spreads above a third of the bound are flagged "high".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit("run failed: %s seed %d" % (workload, seed))
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit("incorrect output: %s seed %d" % (workload, seed))
    return {k: v["value"] for k, v in out["metrics"].items()}, \
        time.monotonic() - t0


def spread(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append",
                    help="default: every workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = i + 1
                metrics, wall = run_once(w, seed, spec["run_seconds"])
                runs.append(metrics)
                print("%s set %d seed %d: %s  (run took %.1f s)" % (
                    w, s + 1, seed, json.dumps(
                        {k: round(v, 4) for k, v in metrics.items()}), wall),
                    flush=True)
            sets.append(runs)
        print("\n%s: %d runs x %d sets" % (w, a.runs, a.sets))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            meds, spreads = [], []
            for runs in sets:
                xs = [r[name] for r in runs]
                meds.append(statistics.median(xs))
                spreads.append(spread(xs))
            drift = [sign * (x - meds[0]) / meds[0] for x in meds[1:]]
            bad = max(spreads) > bound or any(d > bound for d in drift)
            flag = "FAIL" if bad else (
                "high" if max(spreads) > bound / 3 else "ok")
            ok &= not bad
            print("  %-12s %-4s median %s  spread %s  worse-by %s  "
                  "bound %.2f" % (
                      name, flag, " ".join("%.4f" % x for x in meds),
                      " ".join("%.3f" % x for x in spreads),
                      " ".join("%+.3f" % d for d in drift) or "-", bound))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
