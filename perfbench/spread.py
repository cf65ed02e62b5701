"""Run one workload on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), the figure the benchmark's
bounds are set against.

    python3 perfbench/spread.py --workload read_static --seeds 1-10 [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int = 0,
             extra: list[str] | None = None) -> tuple[dict, dict]:
    """One benchmark run in a fresh process; returns (result, detail line)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         *(extra or [])],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        result, detail = run_once(args.workload, seed, seconds)
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          "attempted": result["attempted"], "failed": result["failed"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()},
                          "p50_by_kind": {k: round(v["p50_s"], 3) for k, v
                                          in detail["detail"]["by_kind"].items()}}),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{args.workload:12s} {k:16s} median={med:.4f} spread={spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
