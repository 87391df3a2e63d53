#!/usr/bin/env python3
"""Steadiness check of the benchmark: runs one workload once per seed and
prints, for each metric, the median and the spread (interquartile range as a
share of the median, from statistics.quantiles(values, n=4)) next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload W --seeds 1-10 [--seconds S] [--trace 0|1]

Run from the repository root. Each run's last stdout line is kept in
.bench_build/spread/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    secs = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(".bench_build", "spread"), exist_ok=True)
    log = os.path.join(".bench_build", "spread", f"{a.workload}.jsonl")
    values, walls, bad = {}, [], 0
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                            "--workload", a.workload, "--seed", str(s), "--seconds", str(secs),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": s, "wall_s": walls[-1], **res}) + "\n")
        if not res["correct"]:
            bad += 1
            print(f"seed {s}: incorrect ({res['failed']}/{res['attempted']} failed)")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{a.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s, incorrect or failed {bad}")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / abs(med)
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread < b / 3 else ("  WIDE" if spread >= b else "  >b/3"))
        print(f"  {k:40s} median {med:12.6g}  spread {spread:7.4f}  bound {b}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
