#!/usr/bin/env python
"""Per-query profile on bench's measurement session.

A host-speed calibration first (bench._calibration_sec, so readings
normalize against any bench table), then for each named registry query:
  - build : Python-side DataFrame construction (py4j plan building)
  - build_jobs : Spark jobs run while the plan function builds (eager
            checkpoints, build-time writes and collects, streams drained
            before it returns), counted through one job group around the
            build call plus the job group of each stream started inside
            it (a stream runs its micro-batches under its runId)
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
import uuid

from pyspark.sql.streaming import StreamingQueryListener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402


class _StreamRuns(StreamingQueryListener):
    """The runIds of the streams started while it is attached. A stream
    starts its micro-batch jobs under its runId as job group; onQueryStarted
    runs before ``start()`` returns, so no stream is missed."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def profile(
    spark, name: str, sf_dir: str, runs: int, plans: str | None = None, suffix: str = ""
) -> dict[str, object]:
    """build / build_jobs / first / min / raw / jobs of one registry query,
    with the normalized plan written under ``plans`` when given."""
    sc = spark.sparkContext
    group = f"profile_build:{uuid.uuid4().hex}"
    streams = _StreamRuns()
    spark.streams.addListener(streams)
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        build = round(time.perf_counter() - t0, 3)
    finally:
        sc._jsc.clearJobGroup()
        spark.streams.removeListener(streams)
    build_jobs = sum(
        len(sc.statusTracker().getJobIdsForGroup(g)) for g in (group, *streams.run_ids)
    )
    if plans:
        os.makedirs(plans, exist_ok=True)
        plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans, f"{name}{suffix}.txt"), "w") as f:
            f.write(re.sub(r"#\d+L?|(?<=plan_id=)\d+|(?<=RDD\[)\d+", "", plan_txt))
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    first = round(time.perf_counter() - t0, 3)
    best, raw, jobs = bench.time_query(spark, name, sf_dir, runs, warmup=False)
    return {
        "build": build, "build_jobs": build_jobs, "first": first,
        "min": best, "raw": raw, "jobs": jobs,
    }


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
        rec = profile(spark, name, args.sf, args.runs, args.plans, args.suffix)
        out["queries"][name] = rec
        print(
            f"# {name}: build={rec['build']:.3f}s build_jobs={rec['build_jobs']} "
            f"first={rec['first']:.3f}s min={rec['min']:.3f}s raw={rec['raw']} "
            f"jobs={rec['jobs']}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
