"""Run the benchmark over several seeds and report each metric's median
and quartile spread ((Q3 - Q1) / median), the figure its bound in
BENCHMARK.json is set against. Run from the checkout root:

    python3 perfbench/spread.py --workload mr_jobs --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        took = time.perf_counter() - t0
        print(f"seed {seed}: exit {out.returncode} in {took:.1f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else 0.0
        print(f"{k:28s} median {median(vs):12.5g} spread {spread:.4f} "
              f"bound {bounds[k]} ({spread / bounds[k]:.2f} of it)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
