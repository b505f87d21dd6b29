"""Interleaved A/B bench runner (r09 measurement protocol).

Alternates `python bench.py` between two checkouts (baseline, head) so host
noise hits both sides equally; appends each run's parsed JSON line (tagged
with side/cpus/timestamp) to the output file after every run.

Usage: python tools/bench_loop.py <out.json> <n_rounds> <cpus> <dirA> <dirB> [dirC ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def run_once(repo: str, cpus: int, sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.join(repo, "bench.py")],
                         capture_output=True, text=True, env=env, cwd=repo)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"bench.py in {repo} printed no JSON line (exit {out.returncode}); "
                           f"stderr tail:\n{out.stderr[-4000:]}")
    rec = json.loads(lines[-1])
    rec["side"] = repo
    rec["wall_s"] = round(time.time() - t0, 1)
    rec["t"] = round(t0, 1)
    return rec


def main() -> None:
    out_path, n, cpus = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    dirs = sys.argv[4:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = []
    if os.path.exists(out_path):
        runs = json.load(open(out_path))
    for i in range(n):
        # Rotate the side order each round so periodic host load cannot
        # alias with one side's time slot (observed: a fixed order put the
        # same side in a recurring stall window for 3 rounds straight).
        order = dirs[i % len(dirs):] + dirs[: i % len(dirs)]
        for d in order:
            rec = run_once(d, cpus, sf_dir)
            runs.append(rec)
            json.dump(runs, open(out_path, "w"), indent=1)
            print(f"round {i} {d}: total={rec['value']} wall={rec['wall_s']}", flush=True)


if __name__ == "__main__":
    main()
