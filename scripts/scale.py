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

Usage:
  python scripts/scale.py --sf DATA/sf0.1 .scale/sf1 [names...]
  python scripts/scale.py --sf .scale/sf1 .scale/sf1zipf --out SKEW.json q5_region_revenue
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402


def _sf(label: str) -> float | None:
    m = re.search(r"sf(\d+(?:\.\d+)?)$", label)
    return float(m.group(1)) if m else None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", nargs="+", required=True, metavar="DIR")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None, metavar="FILE")
    ap.add_argument("names", nargs="*", help="default: bench.HEADLINE")
    args = ap.parse_args()
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
