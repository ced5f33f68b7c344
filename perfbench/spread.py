#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest_trickle --seeds 1-10 [--trace 1]

For every metric: the median of the runs and the distance between the
first and third quartile (``statistics.quantiles(n=4)``) as a share of
the median, beside a third of the metric's bound from BENCHMARK.json.
The figures of each run's detail line follow, unbounded: CPU per object
before normalisation, the yardstick's CPU, the wall-clock latencies and
throughput, and the share of the machine's CPU time other guests took
during the loops.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs, details = [], []
    for seed in range(lo, hi + 1):
        t = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
        )
        *_, detail, last = out.stdout.strip().splitlines()
        result = json.loads(last)
        runs.append(result)
        details.append(json.loads(detail)["detail"])
        print(f"seed {seed}: {time.perf_counter() - t:.1f} s wall, correct={result['correct']}, "
              f"failed={result['failed']}/{result['attempted']}", flush=True)

    out = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}-{args.seeds}-t{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"runs": runs, "details": details}, f)
    rows = [(n, [r["metrics"][n]["value"] for r in runs], bounds.get(n)) for n in runs[0]["metrics"]]
    rows += [
        (f"detail.{n}", [d[n] for d in details], None)
        for n in ("raw_op_cpu_s", "yardstick_cpu_s", "op_p50_s", "op_tail_s", "ops_per_s",
                  "host_steal_share")
    ]
    for name, values, bound in rows:
        mid = median(values)
        spread = quartile_spread(values) if len(values) >= 2 and mid else float("nan")
        limit = f"  (bound/3 {bound / 3:.3f})" if bound else ""
        print(f"{name:40s} median {mid:14.6g}  spread {spread:7.3f}{limit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
