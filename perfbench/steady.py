#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics across seeds.

    python3 perfbench/steady.py --workload <name> --seeds 1-10 [--seconds 10] [--out f.json]

Runs the benchmark once per seed (untraced) and prints, for each
end-to-end metric, the median, the quartiles and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median. The bounds in BENCHMARK.json were set from these
spreads.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        print(f"seed {s}: exit {p.returncode} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
              flush=True)
        if p.returncode != 0 or not res.get("correct"):
            sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
            sys.exit(1)
        runs.append(res["metrics"])
    out = {m: summary([r[m]["value"] for r in runs]) for m in runs[0]}
    for m, s in out.items():
        print(f"{a.workload} {m}: median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
              f"spread {s['spread'] * 100:.1f}%")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "metrics": out}, f, indent=1)


if __name__ == "__main__":
    main()
