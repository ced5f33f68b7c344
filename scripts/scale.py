#!/usr/bin/env python
"""Time registry queries across data directories on bench's session.

One process, one bench.session, a host-speed calibration first
(bench._calibration_sec), then per query and per directory
bench.time_query: one untimed warmup + min of ``--runs`` noop-sink runs.

Per query the row gives, for each directory label (its base name):
  - ``<label>`` min seconds and ``raw_<label>`` every timed run;
  - ``ratio_<a>_<b>`` = t_b / t_a between consecutive directories;
  - ``exp_<a>_<b>`` = ln(ratio) / ln(sf_b / sf_a) when both names end in
    ``sf<N>`` — 1.0 is linear, > 1 superlinear (a scale risk).
Directories that differ in content rather than size (sf1 vs the skewed
sf1zipf from make_sf1_skew.py) get the ratio only. Prints one JSON
document as the last stdout line; ``--out FILE`` also writes it.

``--landings N...`` times the trickle's publish step instead: per size, a
catalog table of N single-file ``ingest_date`` partitions (50 rows each,
written with pyarrow), registered and queried once; then one more
partition lands per step, and the step is timed from
``catalog.refresh_partitions`` to the README query's collected rows.
The first size runs once untimed, to warm the JVM up. Per size: min and
every timed step (``--runs``, after two untimed steps), refresh and
query ms of the fastest step, the Spark jobs of every step, and whether
the README answer equals a scan's (the footer rule excluded).

Usage:
  python scripts/scale.py --sf DATA/sf0.1 .scale/sf1 [names...]
  python scripts/scale.py --sf .scale/sf1 .scale/sf1zipf --out SKEW.json q5_region_revenue
  python scripts/scale.py --landings 10 100 1000 --runs 5 --out LANDINGS.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402


def _sf(label: str) -> float | None:
    m = re.search(r"sf(\d+(?:\.\d+)?)$", label)
    return float(m.group(1)) if m else None


LANDING_ROWS = 50
README = "SELECT ingest_date, COUNT(*) AS num_rows FROM {t} GROUP BY ingest_date ORDER BY ingest_date DESC"
FOOTER_RULE = "sparkgraft.sql.FooterRowCounts"


def _land(root: str, k: int) -> None:
    """Partition ``k``: one pyarrow file of LANDING_ROWS rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(root, f"ingest_date={k:06d}")
    os.makedirs(d)
    ids = pa.array(range(k * LANDING_ROWS, (k + 1) * LANDING_ROWS), pa.int64())
    pq.write_table(pa.table({"id": ids}), os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))


def _readme_without_rule(spark, sql: str) -> list:
    old = spark.conf.get("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", f"{old},{FOOTER_RULE}")
    try:
        return [tuple(r) for r in spark.sql(sql).collect()]
    finally:
        spark.conf.set("spark.sql.optimizer.excludedRules", old)


def landings(spark, size: int, runs: int) -> dict:
    """Refresh + README query per landing on a table of ``size`` partitions."""
    from aws_healthcare_etl_pipeline_spark.sources import catalog

    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="landings_")
    root = os.path.join(work, "athena")
    try:
        for k in range(size):
            _land(root, k)
        fq = catalog.register_parquet_table(spark, "scale_landings", f"l{size}", root)
        sql = README.format(t=fq)
        spark.sql(sql).collect()  # the relation's first listing
        raw, parts, jobs = [], [], []
        for step in range(2 + runs):
            _land(root, size + step)
            group = f"landings:{uuid.uuid4().hex}"
            sc.setJobGroup(group, "landings")
            try:
                t0 = time.perf_counter()
                catalog.refresh_partitions(spark, fq)
                t1 = time.perf_counter()
                rows = [tuple(r) for r in spark.sql(sql).collect()]
                t2 = time.perf_counter()
            finally:
                sc._jsc.clearJobGroup()
            if step >= 2:
                raw.append(round((t2 - t0) * 1e3, 2))
                parts.append((round((t1 - t0) * 1e3, 2), round((t2 - t1) * 1e3, 2)))
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        best = raw.index(min(raw))
        partitions = size + 2 + runs
        correct = (
            rows == _readme_without_rule(spark, sql)
            and len(rows) == partitions
            and sum(n for _, n in rows) == partitions * LANDING_ROWS
        )
        spark.sql(f"DROP TABLE {fq}")
        return {
            "min_ms": raw[best],
            "raw_ms": raw,
            "refresh_ms": parts[best][0],
            "query_ms": parts[best][1],
            "jobs": jobs,
            "partitions": partitions,
            "correct": correct,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--sf", nargs="+", metavar="DIR")
    mode.add_argument("--landings", nargs="+", type=int, metavar="N")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None, metavar="FILE")
    ap.add_argument("names", nargs="*", help="default: bench.HEADLINE")
    args = ap.parse_args()
    if args.landings:
        spark = bench.session("scale")
        landings(spark, args.landings[0], args.runs)  # untimed: JIT warm-up
        sizes = {str(n): landings(spark, n, args.runs) for n in args.landings}
        for n, row in sizes.items():
            print(f"# {n} partitions: {row}", file=sys.stderr)
        first, last = sizes[str(args.landings[0])], sizes[str(args.landings[-1])]
        out = {
            "protocol": f"bench.session; per size 2 untimed + min-of-{args.runs} landings,"
            " each timed from refresh_partitions to the README query's rows",
            "landings": sizes,
            f"ratio_{args.landings[0]}_{args.landings[-1]}": round(last["min_ms"] / first["min_ms"], 3),
        }
        if args.out:
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
        print(json.dumps(out))
        return
    names = args.names or bench.HEADLINE
    labels = [os.path.basename(d.rstrip("/")) for d in args.sf]
    if len(set(labels)) != len(labels):
        ap.error(f"directory base names must differ: {labels}")
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = bench.session("scale")
    calib, calib_raw = bench._calibration_sec(spark, args.runs)
    print(f"# calibration: {calib:.2f}s {calib_raw}", file=sys.stderr)
    rows: dict[str, dict] = {}
    for name in names:
        row: dict[str, object] = {}
        for label, sf_dir in zip(labels, args.sf):
            row[label], row[f"raw_{label}"], _ = bench.time_query(
                spark, name, sf_dir, args.runs
            )
        for a, b in zip(labels, labels[1:]):
            ratio = row[b] / row[a] if row[a] else None
            row[f"ratio_{a}_{b}"] = ratio and round(ratio, 3)
            sa, sb = _sf(a), _sf(b)
            if ratio and sa and sb and sa != sb:
                row[f"exp_{a}_{b}"] = round(math.log(ratio) / math.log(sb / sa), 2)
        rows[name] = row
        print(f"# {name}: {row}", file=sys.stderr)

    out = {
        "protocol": f"bench.session, warmup + min-of-{args.runs}, noop sink",
        "calibration_sec": calib,
        "calibration_raw": calib_raw,
        "sf": args.sf,
        "queries": rows,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
