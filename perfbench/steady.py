#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds (untraced) and
report, per end-to-end metric, the median and the spread — the distance
between the first and third quartile as a share of the median — next to
the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--out f.json] [workload ...]
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    report = {}
    for name in names:
        values, failed = {}, 0
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", name, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if p.returncode != 0:
                sys.exit(f"{name} seed {seed}: exit {p.returncode}")
            r = json.loads(p.stdout.splitlines()[-1])
            failed += r["failed"]
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        report[name] = {"failed": failed, "metrics": {}}
        for m in spec["end_to_end"]:
            vs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(vs, n=4)
            report[name]["metrics"][m["name"]] = {
                "median": statistics.median(vs), "spread": (q3 - q1) / statistics.median(vs),
                "bound": m["bound"], "values": vs}
            print(f"{name:14} {m['name']:8} median {statistics.median(vs):9.4f} "
                  f"spread {(q3 - q1) / statistics.median(vs):6.3f} bound {m['bound']} "
                  f"failed {failed}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
