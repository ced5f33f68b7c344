"""Queries over degenerate inputs must agree with their oracle instead
of raising: here, a relation with one key residue removed entirely."""

from __future__ import annotations

import duckdb

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY

from .conftest import SF_SMOKE
from .oracle_compare import compare_frames


def test_dag_critical_path_with_empty_layer(spark, tmp_path):
    # supplier layers are s_suppkey % 6; dropping residue 3 leaves a
    # DAG whose layer 3 is empty, so no path reaches the last layer
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_SMOKE}/supplier.parquet') "
        f"WHERE s_suppkey % 6 <> 3) TO '{tmp_path}/supplier.parquet' "
        "(FORMAT parquet)"
    )
    con.execute(
        "CREATE VIEW supplier AS SELECT * FROM "
        f"read_parquet('{tmp_path}/supplier.parquet')"
    )
    spec = REGISTRY["graph_dag_critical_path"]
    spark_pdf = spec.fn(spark, str(tmp_path)).toPandas()
    duck_pdf = con.execute(spec.oracle).fetchdf()
    assert len(duck_pdf) == 0
    problems = compare_frames(spark_pdf, duck_pdf, spec.name)
    assert not problems, "\n".join(problems)
