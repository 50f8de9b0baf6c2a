#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's median and
spread (interquartile range over median, as statistics.quantiles gives
the quartiles) — the steadiness figure the bounds in BENCHMARK.json are
held against.

    python3 perfbench/spread.py --workload lake --seeds 1 2 3 4 5
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values = {}
    for seed in a.seeds:
        out = subprocess.run([sys.executable, str(RUN), "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:28s} median {med:12.4f}  spread {spread:.4f}")


if __name__ == "__main__":
    main()
