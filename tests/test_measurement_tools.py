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


def test_profile_reports_build_jobs(spark):
    path = os.path.join(REPO, "scripts", "profile_query.py")
    spec = importlib.util.spec_from_file_location("profile_query", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # the plan function writes two parquet batches before returning
    rec = mod.profile(spark, "format_schema_evolution", SF_SMOKE, runs=1)
    assert set(rec) == {"build", "build_jobs", "first", "min", "raw", "jobs"}
    assert rec["build_jobs"] >= 2


@pytest.mark.parametrize("script", ["profile_query.py", "scale.py", "driver_sim.py"])
def test_script_help(script):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", script), "--help"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
