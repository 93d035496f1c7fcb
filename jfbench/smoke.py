#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes.

    python3 jfbench/smoke.py

For each workload, with --smoke (one step per source, a handful of
requests, a 2 s window):
  * untraced and traced runs are correct and print every end-to-end,
    respectively per-layer, metric of BENCHMARK.json with its unit;
  * a --corrupt run, which alters one answer before checking it, reports
    correct=false with at least one failure.
Then the benchmark must refuse to run (exit != 0, no result line) in a
directory holding only BENCHMARK.json and jfbench/.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT, timeout=400):
    r = subprocess.run([sys.executable, "jfbench/run.py"] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=timeout)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(["--workload", w, "--seed", "1", "--seconds", "2",
                             "--trace", str(trace), "--smoke"])
            if res is None:
                problems.append(f"{w} trace={trace}: exit {code}")
                continue
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {res['failed']}/{res['attempted']} failed")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(got.items())} != {sorted(want.items())}")
            print(f"{w} trace={trace}: ok ({len(got)} metrics)")
        code, res = run(["--workload", w, "--seed", "1", "--seconds", "2", "--trace", "0",
                         "--smoke", "--corrupt"])
        if res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"{w} --corrupt: not counted as a failure: {res}")
        else:
            print(f"{w} --corrupt: {res['failed']}/{res['attempted']} failed, as it should")

    bare = os.path.join(HERE, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "jfbench"),
                    ignore=shutil.ignore_patterns("target", "work", "out"))
    try:
        code, res = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                         "--seconds", "2", "--trace", "0"], cwd=bare, timeout=170)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        problems.append(f"bare directory: exit {code}, result {res}")
    else:
        print(f"bare directory: refused with exit {code}")

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
