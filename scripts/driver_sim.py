#!/usr/bin/env python
"""Replica of the driver correctness gate, run through __spark_entry__.

The session is the driver's, not ours: a plain SparkSession on
local[16] with 8g and the hostile America/New_York timezone, so any
conf the engine needs must come from __spark_entry__._prepared. The
script runs from a fresh temp dir and strips repo paths from
PYTHONPATH before the session starts, so Python workers cannot import
the package: that catches closures that pickle by reference to a
module the workers cannot import.

It calls entry(spark), then runs each chosen queries() entry and its
oracle_sql() through DuckDB over the same parquet, comparing with
tests/oracle_compare.compare_frames (stricter than the driver's hash).
Queries without an oracle must run and return columns. ``--out FILE``
writes one record per query (rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err); exits 1 if any query fails.

``--session package`` builds the same session through
``session.get_spark`` instead, with the same settings on top of its
defaults. That session loads the package jar, so the gate then also
covers the jar's ``file://`` filesystem and the ``FooterRowCounts``
optimizer rule, which the plain session never loads.

Usage:
  python scripts/driver_sim.py [--sf DIR] q1 q2 ...
  python scripts/driver_sim.py --all --out ds.json
  python scripts/driver_sim.py --session package ref_ingest_roundtrip
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tests.conftest import SF_CORRECTNESS  # noqa: E402
from tests.oracle_compare import _normalize, compare_frames  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _kind(s) -> str:
    return {"u": "i"}.get(s.dtype.kind, s.dtype.kind)


def check(fn, oracle: str | None, spark, duck, sf: str, name: str) -> dict:
    rec = {
        "rows_match": False, "schema_match": False, "hash_match": False,
        "spark_rows": None, "oracle_rows": None, "err": None,
    }
    try:
        spark_pdf = fn(spark, sf).toPandas()
        rec["spark_rows"] = len(spark_pdf)
        if not oracle:
            # rows-only: nulls tell "ran without error" from "matched"
            rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = None
            if not len(spark_pdf.columns):
                rec["err"] = "empty schema"
            return rec
        duck_pdf = duck.execute(oracle).fetchdf()
        rec["oracle_rows"] = len(duck_pdf)
        rec["rows_match"] = len(spark_pdf) == len(duck_pdf)
        a, b = _normalize(spark_pdf), _normalize(duck_pdf)
        rec["schema_match"] = list(a.columns) == list(b.columns) and all(
            _kind(a[c]) == _kind(b[c]) for c in a.columns
        )
        problems = compare_frames(spark_pdf, duck_pdf, name)
        rec["hash_match"] = not problems
        if problems:
            rec["err"] = "; ".join(problems[:3])
    except Exception as e:  # noqa: BLE001 — record, keep sweeping
        rec["err"] = f"{type(e).__name__}: {e}"[:500]
    return rec


def _isolate_from_repo() -> str:
    """chdir to a fresh temp dir and drop repo entries from PYTHONPATH,
    so the session's Python workers cannot import the package."""
    kept = [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.commonpath([os.path.abspath(p), REPO]) != REPO
    ]
    if kept:
        os.environ["PYTHONPATH"] = os.pathsep.join(kept)
    else:
        os.environ.pop("PYTHONPATH", None)
    tmp = tempfile.mkdtemp(prefix="driver_sim_")
    os.chdir(tmp)
    return tmp


# the driver's session settings, in both session modes
DRIVER_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "America/New_York",
    "spark.driver.memory": "8g",
    "spark.ui.showConsoleProgress": "false",
}


def _session(kind: str) -> SparkSession:
    if kind == "package":
        from aws_healthcare_etl_pipeline_spark.session import get_spark

        return get_spark(app_name="driver_sim", master="local[16]", extra_conf=DRIVER_CONF)
    builder = SparkSession.builder.master("local[16]").appName("driver_sim")
    for k, v in DRIVER_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run(args, names: list[str], qs, oracles) -> list[str]:
    """Build the driver-like session, run entry() and every named
    query against its oracle; returns the failing names."""
    spark = _session(args.session)
    print(
        f"session: {args.session}, timezone {spark.conf.get('spark.sql.session.timeZone')}, "
        f"extensions {spark.conf.get('spark.sql.extensions', '')!r}"
    )
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    t0 = time.perf_counter()
    rows = entrymod.entry(spark).collect()
    print(f"entry(): {len(rows)} rows ({time.perf_counter() - t0:.1f}s)", flush=True)

    t_all = time.perf_counter()
    results: dict[str, dict] = {}
    fails = []
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        rec = check(qs[name], oracles.get(name), spark, duck, args.sf, name)
        results[name] = rec
        ok = rec["hash_match"] in (True, None) and rec["err"] is None
        if not ok:
            fails.append(name)
        print(
            f"[{i + 1}/{len(names)}] {'PASS' if ok else 'FAIL'} {name} "
            f"({time.perf_counter() - t0:.1f}s)" + ("" if ok else f"\n  {rec['err']}"),
            flush=True,
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    print(
        f"\n{len(names) - len(fails)}/{len(names)} green, fails={len(fails)}: "
        f"{fails} ({time.perf_counter() - t_all:.0f}s)",
        flush=True,
    )
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    return fails


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default=SF_CORRECTNESS, metavar="DIR")
    ap.add_argument("--all", action="store_true", help="every queries() entry")
    ap.add_argument("--out", default=None, metavar="FILE")
    ap.add_argument(
        "--session", choices=("plain", "package"), default="plain",
        help="plain: the driver's SparkSession; package: the same settings through get_spark",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    args.sf = os.path.abspath(args.sf)
    if args.out:
        args.out = os.path.abspath(args.out)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs) if args.all else args.names
    unknown = [n for n in names if n not in qs]
    if unknown or not names:
        ap.error(f"unknown queries: {unknown}" if unknown else "name queries or pass --all")

    tmp = _isolate_from_repo()
    print(f"cwd: {tmp} (PYTHONPATH={os.environ.get('PYTHONPATH', '')!r})")
    try:
        fails = run(args, names, qs, oracles)
    finally:
        os.chdir(REPO)
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
