"""The cross-engine fragments in plans/registry.py, checked directly.

Every oracle-parity case depends on these pairs agreeing; here each pair
is compared on its own, so a drift shows up as one named failure rather
than as scattered oracle mismatches.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.plans.registry import (
    SQL_HEAVY_TRADE,
    heavy_trade,
    hex4,
    hex8,
    split_top_level,
    sql_hex4,
    sql_hex8,
    sql_hexstr8,
)

N_PROBES = 1000


def _py_hash(key: str, n: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:n], 16)


def test_md5_hash_pair_agrees_across_engines(spark, duck):
    key = F.concat(F.lit("probe:"), F.col("id").cast("string"))
    spark_rows = (
        spark.range(N_PROBES)
        .select("id", hex8(key).alias("h8"), hex4(key).alias("h4"))
        .collect()
    )
    duck_key = "'probe:' || CAST(i AS VARCHAR)"
    duck_rows = duck.execute(
        f"SELECT i, {sql_hex8(duck_key)}, {sql_hex4(duck_key)},"
        f" {sql_hexstr8(f'md5({duck_key})')} FROM range({N_PROBES}) t(i)"
    ).fetchall()
    got_spark = {r.id: (r.h8, r.h4) for r in spark_rows}
    got_duck = {i: (h8, h4) for i, h8, h4, _ in duck_rows}
    assert len(got_spark) == len(got_duck) == N_PROBES
    assert got_spark == got_duck
    assert all(h8 == hs8 for _, h8, _, hs8 in duck_rows)
    for i in (0, 1, N_PROBES - 1):
        assert got_spark[i] == (_py_hash(f"probe:{i}", 8), _py_hash(f"probe:{i}", 4))


def test_heavy_trade_builder_matches_its_duckdb_cte(spark, duck, sf_dir):
    got = {(r.u, r.v) for r in heavy_trade(spark, sf_dir).collect()}
    sql = f"WITH {SQL_HEAVY_TRADE} SELECT u, v FROM heavy"
    want = set(duck.execute(sql).fetchall())
    assert want, "empty heavy edge set: the comparison would be vacuous"
    assert got == want
    assert all(u < v for u, v in got)


def test_split_top_level_keeps_nested_commas():
    s = "a, CAST(x AS DECIMAL(15,2)) AS b, CASE WHEN f(a, b) THEN 1 END AS c"
    assert split_top_level(s) == [
        "a",
        "CAST(x AS DECIMAL(15,2)) AS b",
        "CASE WHEN f(a, b) THEN 1 END AS c",
    ]
