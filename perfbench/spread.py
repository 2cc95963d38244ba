#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles(n=4)) as a share of their median, next to the bound
BENCHMARK.json fixes for it.

Usage (from the repository root):
  python3 perfbench/spread.py --workload sql_relational --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds_of(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(last)
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
    for n, vs in sorted(values.items()):
        if len(vs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE")
        print(f"{n:24s} median={med:.5g} spread={spread:.4f} bound={b} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
