"""Round-trip tests for the non-reference formats (JSON-lines, ORC)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.sources.formats import (
    read_jsonl,
    read_orc,
    write_jsonl,
    write_orc,
)
from aws_healthcare_etl_pipeline_spark.sources.tables import load_table


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    orig = load_table(spark, sf_dir, "nation")
    write_jsonl(orig, str(tmp_path / "nation_json"))
    back = read_jsonl(spark, str(tmp_path / "nation_json"), schema=orig.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orig.collect()))


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    orig = load_table(spark, sf_dir, "customer")
    write_orc(orig, str(tmp_path / "cust_orc"))
    back = read_orc(spark, str(tmp_path / "cust_orc"))
    assert back.count() == orig.count()
    filtered = back.filter(F.col("c_custkey") < 10).select("c_custkey", "c_name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "c_custkey" in plan  # ORC pushdown too
    assert filtered.count() == 10
