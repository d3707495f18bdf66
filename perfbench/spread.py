"""Run a workload on several seeds and report each end-to-end metric's
median and spread (inter-quartile range as a share of the median) against
its bound.

    python3 perfbench/spread.py --workload etl_upsert --seeds 1-10

The seconds per run come from BENCHMARK.json. Exits 1 if a spread exceeds
its bound or a run fails its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
UNBOUNDED = ("loop.op_s_p50", "loop.items_per_s", "loop_cpu_s", "loop_jit_cpu_s", "peak_rss_mb")
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, dict]:
    """One benchmark process; returns (result line, details line)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b range")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = map(int, a.seeds.split("-"))
    runs = []
    ok = True
    for seed in range(lo, hi + 1):
        res, det = run_once(a.workload, seed, bench["run_seconds"])
        ok &= res["correct"]
        runs.append(res["metrics"])
        print(json.dumps({"seed": seed, "correct": res["correct"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()},
                          # unbounded figures, for reading a spread
                          **{k: round(det[k], 3) for k in UNBOUNDED}}),
              flush=True)
    for m in bench["end_to_end"]:
        vals = [r[m["name"]]["value"] for r in runs]
        med, sp = spread(vals)
        flag = "" if sp <= m["bound"] else "  OVER BOUND"
        ok &= not flag
        print(f"{m['name']:14s} median {med:12.4f} {m['unit']:6s} spread {sp:6.3f} "
              f"(bound {m['bound']}, target < {m['bound'] / 3:.3f}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
