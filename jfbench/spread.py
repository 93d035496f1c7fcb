#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 jfbench/spread.py --workloads etl_day,serve_point --seeds 1-10 \
        [--seconds S] [--trace 0|1] [--out FILE]

Runs each workload once per seed (sequentially), then prints, per metric,
the median, the quartiles and the interquartile range as a share of the
median (Python's statistics.quantiles(values, n=4)). With --out, every raw
result line is kept in FILE as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    results = {}
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {r.returncode}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            results.setdefault(w, []).append({"seed": s, **res})
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}",
                  file=sys.stderr)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(results, fh, indent=1)
    for w, rs in results.items():
        for name in sorted(rs[0]["metrics"]):
            vals = [r["metrics"][name]["value"] for r in rs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            note = f" bound {bound} (third {bound / 3:.3f})" if bound else ""
            print(f"{w:12s} {name:28s} n={len(vals):2d} median={statistics.median(vals):.4g} "
                  f"q1={q1:.4g} q3={q3:.4g} iqr/median={share:.3f}{note}")


if __name__ == "__main__":
    main()
