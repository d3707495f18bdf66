"""Reporter: run each workload untraced and traced on one seed, then print
every end-to-end metric by name and unit, each workload's per-layer table
sorted by self time, and the tracing overhead.

    python3 perfbench/report.py                 # the workloads in BENCHMARK.json
    python3 perfbench/report.py --workload query_mix --seed 4

End-to-end numbers come from the untraced run only. The overhead is
traced ÷ untraced − 1 for the median operation time and the throughput.
Exits 1 if any run fails its correctness checks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spread import ROOT, run_once  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    ok = True
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        plain, plain_det = run_once(w, a.seed, a.seconds, trace=0)
        traced, det = run_once(w, a.seed, a.seconds, trace=1)
        ok &= plain["correct"] and traced["correct"]
        print(f"\n=== {w} (seed {a.seed}): correct={plain['correct'] and traced['correct']} "
              f"attempted={plain['attempted']} failed={plain['failed']}")
        for name, m in plain["metrics"].items():
            print(f"  {name:16s} {m['value']:14.4f} {m['unit']}")
        for k in ("loop.op_s_p50", "loop.items_per_s", "peak_rss_mb"):
            print(f"  {k:16s} {plain_det[k]:14.4f} (untraced; unbounded)")
        p50, tp = plain_det["loop.op_s_p50"], plain_det["loop.items_per_s"]
        if p50 and tp:
            print(f"  tracing overhead: op_s_p50 {det['loop.op_s_p50'] / p50 - 1:+.1%}, "
                  f"items_per_s {det['loop.items_per_s'] / tp - 1:+.1%}")
        print(f"  {'layer (self-time order)':48s} {'calls':>6s} {'wall_s':>9s} "
              f"{'self_s':>9s} {'driver_s':>9s} {'jobs':>6s}")
        for r in det["layers"]:
            print(f"  {r['layer']:48s} {r['calls']:6d} {r['wall_s']:9.3f} "
                  f"{r['self_s']:9.3f} {r['driver_s']:9.3f} {r['spark_jobs']:6d}")
        print("  per-layer metrics (traced run):")
        for name, m in traced["metrics"].items():
            if m["value"]:
                print(f"    {name:56s} {m['value']:14.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
