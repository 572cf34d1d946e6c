#!/usr/bin/env python3
"""Repeats each workload in fresh JVMs and reports how steady it is.

    python3 perfbench/steadiness.py [--workloads a,b] [--seeds 10] [--first-seed 1]
                                    [--traced 1]

For every workload it runs `run.py` once per seed (untraced), then prints
each end-to-end metric's median, first and third quartiles
(`statistics.quantiles(values, n=4)`) and the quartile spread as a share
of the median, beside the metric's bound from BENCHMARK.json: `ok` within
a third of the bound, `within bound`, or `WIDE`. Then it makes `--traced`
traced runs per workload and prints the tracing overhead they measure
(traced minus untraced pass time in the same run) against the untraced
`pass_s` median. The summary is also written to
perfbench/.results/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run.py failed for {workload} seed {seed}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        print(f"  {workload} seed {seed}: {out['failed']} of {out['attempted']} failed",
              flush=True)
    return out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    summary = {}
    for w in a.workloads.split(","):
        runs = [run(w, s, seconds, 0) for s in range(a.first_seed, a.first_seed + a.seeds)]
        rows = {}
        print(f"\n{w}: {len(runs)} untraced runs, seeds {a.first_seed}.."
              f"{a.first_seed + a.seeds - 1}")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = ("ok" if spread < bound / 3
                    else "within bound" if spread < bound else "WIDE")
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "bound": bound, "values": vals}
            print(f"  {name:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{bound:>8.2f}"
                  f"  {flag}", flush=True)
        traced = [run(w, s, seconds, 1)
                  for s in range(a.first_seed + a.seeds, a.first_seed + a.seeds + a.traced)]
        overhead = [t["metrics"]["trace.overhead_s"]["value"] for t in traced]
        plain = rows["pass_s"]["median"]
        if overhead:
            print(f"  tracing overhead: {statistics.median(overhead):+.4f} s per pass "
                  f"({statistics.median(overhead) / plain:+.1%} of the untraced pass_s "
                  f"{plain:.4f} s; {len(overhead)} traced runs)")
        summary[w] = {"end_to_end": rows, "trace_overhead_s": overhead,
                      "failed": sum(r["failed"] for r in runs + traced),
                      "attempted": sum(r["attempted"] for r in runs + traced)}
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    with open(os.path.join(HERE, ".results", "steadiness.json"), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
