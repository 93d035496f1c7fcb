#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 jfbench/overhead.py [--workloads etl_day,serve_point] [--seeds 1-3]

Runs every workload untraced and traced on the same seeds (alternating) and
prints, for each end-to-end metric, the median untraced value, the median of
the traced run's `traced.<metric>` and their difference. setup_s is compared
with traced.setup_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from spread import seeds  # noqa: E402


def once(w, s, trace, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(s), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{w} seed {s} trace {trace}: exit {r.returncode}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-3")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    for w in a.workloads.split(","):
        plain, traced = [], []
        for s in seeds(a.seeds):
            plain.append(once(w, s, 0, a.seconds)["metrics"])
            traced.append(once(w, s, 1, a.seconds)["metrics"])
        for m in bench["end_to_end"]:
            n = m["name"]
            u = statistics.median(r[n]["value"] for r in plain)
            t = statistics.median(r["traced." + n]["value"] for r in traced)
            print(f"{w:12s} {n:12s} untraced={u:.4g} traced={t:.4g} "
                  f"overhead={t - u:+.4g} {m['unit']} ({(t - u) / u:+.1%})")


if __name__ == "__main__":
    main()
