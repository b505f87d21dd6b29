"""Tracing overhead: traced against untraced pass time, from interleaved runs.

    python3 perfbench/overhead.py --workload batch-sf0.001 --seeds 1 2 3 --seconds 8

For each seed, runs `run.py` once with `--trace 0` and once with `--trace 1`
(alternating which goes first) and prints one JSON line with the median
untraced `pass_s_p50`, the median traced `trace.pass_s_p50` and
`overhead_frac = traced / untraced - 1`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    plain, traced = [], []
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            m = run_once(args.workload, seed, args.seconds, trace)
            if trace:
                traced.append(m["trace.pass_s_p50"]["value"])
            else:
                plain.append(m["pass_s_p50"]["value"])
    u, t = statistics.median(plain), statistics.median(traced)
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "untraced_pass_s_p50": u, "traced_pass_s_p50": t,
                      "overhead_frac": t / u - 1}))


if __name__ == "__main__":
    main()
