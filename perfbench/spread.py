"""Run one workload over several seeds and report each metric's median
and spread, (Q3 - Q1) / median, the figure its bound is judged against.

    python3 perfbench/spread.py --workload live_stream --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share, median  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs, walls = [], []
    for seed in range(lo, hi + 1):
        t = time.time()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True)
        walls.append(time.time() - t)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        spread = iqr_share(vals) if len(vals) > 1 and median(vals) else 0.0
        b = bounds.get(name)
        print(f"{name:40s} median={median(vals):.4g} spread={spread:.3f}"
              + (f" bound={b} ({spread / b:.2f} of bound)" if b else ""))
    print(f"wall per run: median {median(walls):.1f}s max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
