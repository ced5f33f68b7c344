#!/usr/bin/env python
"""Per-query profile on bench's measurement session.

A host-speed calibration first (bench._calibration_sec, so readings
normalize against any bench table), then for each named registry query:
  - build : Python-side DataFrame construction (py4j plan building)
  - first : first noop-sink execution of that plan (codegen + exec),
            which is also the warmup
  - min, raw, jobs : bench.time_query over ``--runs`` timed runs
and, with ``--plans DIR``, the .explain("formatted") text per query with
the per-session counters stripped (expression ids ``#12L``, exchange
``plan_id=`` and ``RDD[n]`` numbers), so ``--suffix _before`` and
``_after`` dumps of an unchanged plan diff to empty.
Prints one JSON document as the last stdout line.

Usage:
  python scripts/profile_query.py --sf DIR [--runs N] \\
      [--plans DIR] [--suffix _after] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", required=True, metavar="DIR")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="", help="plan file suffix (_before/_after)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = bench.session("profile")
    calib, calib_raw = bench._calibration_sec(spark, args.runs)
    out: dict[str, object] = {
        "calibration_sec": calib,
        "calibration_raw": calib_raw,
        "sf": args.sf,
        "queries": {},
    }
    for name in args.names:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, args.sf)
        build = round(time.perf_counter() - t0, 3)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(re.sub(r"#\d+L?|(?<=plan_id=)\d+|(?<=RDD\[)\d+", "", plan_txt))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        first = round(time.perf_counter() - t0, 3)
        best, raw, jobs = bench.time_query(
            spark, name, args.sf, args.runs, warmup=False
        )
        out["queries"][name] = {
            "build": build, "first": first, "min": best, "raw": raw, "jobs": jobs,
        }
        print(
            f"# {name}: build={build:.3f}s first={first:.3f}s "
            f"min={best:.3f}s raw={raw} jobs={jobs}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
