#!/usr/bin/env python3
"""Two sets of runs of one commit: medians and spreads against the bounds.

    python3 perfbench/steady.py --runs 10 --seeds 1 [--workloads serve-interactive]

For each workload it makes two sets of `--runs` untraced runs (each run
with its own seed; the second set starts at seed `--seeds` + 1000) and
prints, per end-to-end metric, each set's median, its spread (the
distance between the first and third quartile as a share of the median)
and the bound from BENCHMARK.json, and the second median's change against
the first.  A metric passes when every spread is within the bound and the
second median is not worse than the first by more than the bound; for
setup_s only the median change counts, since each seed is a different
corpus and one set-up per run is one sample of it (its spread is printed
all the same).  Each run's result line is appended to
.bench_results/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("run failed: %s seed %d" % (workload, seed))
    res = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_results", "steady.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "result": res}) + "\n")
    return res


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seeds", type=int, default=1, help="first seed of the first set")
    ap.add_argument("--sets", type=int, default=2, choices=[1, 2])
    ap.add_argument("--workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for k in range(a.sets):
            runs = [one_run(w, a.seeds + 1000 * k + i, bench["run_seconds"]) for i in range(a.runs)]
            if not all(r["correct"] for r in runs):
                print("%s: a run reported correct = false" % w)
                ok = False
            shares = {r["failed"] / r["attempted"] for r in runs}
            print("%s set %d: failed share %s" % (w, k + 1, sorted(shares)))
            sets.append(runs)
        print("%-22s %-20s %12s %7s %12s %7s %7s %7s" % (
            w, "metric", "median1", "spread1", "median2", "spread2", "change", "bound"))
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            row = []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                row.append((statistics.median(vals), spread(vals)))
            change = 0.0
            if len(row) == 2:
                worse = row[1][0] - row[0][0] if m["better"] == "lower" else row[0][0] - row[1][0]
                change = worse / row[0][0]
            good = all(sp <= bound or name == "setup_s" for _, sp in row) and change <= bound
            ok = ok and good
            print("%-22s %-20s %12.4f %7.3f %12s %7s %7.3f %7.3f %s" % (
                "", name, row[0][0], row[0][1],
                "%.4f" % row[1][0] if len(row) == 2 else "-",
                "%.3f" % row[1][1] if len(row) == 2 else "-",
                change, bound, "ok" if good else "OUT OF BOUND"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
