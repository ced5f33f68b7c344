"""The measurement path: bench's query lists name real queries, its
timing primitive reports what it measured, and the scripts built on it
start."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

import bench
from aws_healthcare_etl_pipeline_spark.plans import REGISTRY

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_lists_name_registry_queries():
    for name in bench.HEADLINE + bench._HOT_GUARANTEED + bench._CANARY + bench._COHORT:
        assert name in REGISTRY, name
    # bench drops canaries missing from HEADLINE without a word, which
    # would shrink the fixed cohort
    assert set(bench._CANARY) <= set(bench.HEADLINE)


def test_time_query_reports_min_raw_and_jobs(spark):
    best, raw, jobs = bench.time_query(spark, "q1_pricing_summary", SF_SMOKE, runs=2)
    assert len(raw) == 2
    assert best == min(raw)
    assert jobs >= 1


def _profile_module():
    path = os.path.join(REPO, "scripts", "profile_query.py")
    spec = importlib.util.spec_from_file_location("profile_query", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_reports_build_jobs(spark):
    # the plan function writes two parquet batches before returning
    rec = _profile_module().profile(spark, "format_schema_evolution", SF_SMOKE, runs=1)
    assert set(rec) == {"build", "build_jobs", "first", "min", "raw", "jobs"}
    assert rec["build_jobs"] >= 2


def test_profile_counts_a_drained_streams_jobs(spark):
    # the plan drains an AvailableNow stream, whose micro-batches run
    # under the stream's runId, not the build's job group
    rec = _profile_module().profile(spark, "streaming_stateful_user_totals", SF_SMOKE, runs=1)
    assert rec["build_jobs"] > 0


@pytest.mark.parametrize("script", ["profile_query.py", "scale.py", "driver_sim.py"])
def test_script_help(script):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", script), "--help"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
