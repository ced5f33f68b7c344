"""Wave-194 (round 5): sampled graph estimation + semantic profiling.

* ``graph_triangle_sample_estimator`` — the p^3 trick for counting
  triangles you can't afford to count: keep each co-purchase edge
  with deterministic md5 probability 1/4, count triangles on the
  sample with the degree-oriented wedge join, and scale by 4^3 = 64.
  The exact count runs beside it (same oriented join on the full
  edge set) so the permille error of the estimator is part of the
  result — sampling for graphs, with its accuracy bill attached.

* ``dq_semantic_type_inference`` — the auto-profiler that tags
  columns before a human ever reads them: a fixed panel of columns
  across four tables is graded on distinct ratio, null share, and
  format evidence (money-like 2-decimals, date span, id-like
  density), and each column gets its inferred semantic type by the
  same rule in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, sql_hex8

_TS_KEEP = 4  # keep edges with hash % 4 == 0 -> p = 1/4


def _tri_sql(edges_cte: str) -> str:
    """Degree-oriented triangle count over an edge CTE (u < v pairs)."""
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS tri FROM (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM {edges_cte} e1
            JOIN {edges_cte} e2 ON e2.u = e1.v
        ) w
        JOIN {edges_cte} e3 ON e3.u = w.a AND e3.v = w.c
    """


@query(
    "graph_triangle_sample_estimator",
    oracle=f"""
        WITH cp AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ), deg AS (
            SELECT c, COUNT(*) AS d FROM cp GROUP BY c
        ), pairs AS MATERIALIZED (
            SELECT DISTINCT LEAST(a.c, b.c) AS u,
                   GREATEST(a.c, b.c) AS v
            FROM cp a JOIN cp b ON b.p = a.p AND b.c > a.c
            JOIN deg da ON da.c = a.c JOIN deg db ON db.c = b.c
            WHERE da.d <= 8 AND db.d <= 8
        ), sampled AS MATERIALIZED (
            SELECT u, v FROM pairs
            WHERE {sql_hex8(
                "concat('ts:', CAST(u AS VARCHAR), ':',"
                " CAST(v AS VARCHAR))")} % {_TS_KEEP} = 0
        ), exact_t AS ({_tri_sql("pairs")}),
        samp_t AS ({_tri_sql("sampled")})
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs)
                   AS n_edges,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM sampled)
                   AS n_sampled_edges,
               e.tri AS exact_triangles,
               CAST(s.tri * {_TS_KEEP ** 3} AS BIGINT)
                   AS estimated_triangles,
               CAST(ABS(s.tri * {_TS_KEEP ** 3} - e.tri) * 1000
                    // GREATEST(e.tri, 1) AS BIGINT)
                   AS abs_err_permille
        FROM exact_t e CROSS JOIN samp_t s
    """,
    description="Triangle counting by edge sampling, with the "
    "accuracy bill attached: co-purchase edges between low-degree "
    "customers (degree cap 8 bounds the projection fan-out) are "
    "kept with deterministic md5 probability 1/4, triangles are "
    "counted on the sample with the same ordered wedge join as the "
    "exact lane, and the estimate scales by p^-3 = 64 — the "
    "estimator variance shows up as the emitted permille error "
    "against the exact count computed beside it. 100 TB shape: the "
    "sample lane touches ~1/4 the edges and ~1/64 the wedge "
    "work — exactly the trade a trillion-edge graph forces — and "
    "the deterministic hash keeps the 'sample' reproducible across "
    "runs and engines.",
)
def graph_triangle_sample_estimator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = cp.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    small = deg.where(F.col("d") <= 8).select("c")
    a = cp.join(small, "c").selectExpr("c AS ca", "p")
    b = cp.join(small.withColumnRenamed("c", "cb2"),
                cp.c == F.col("cb2")).selectExpr("c AS cb", "p AS pb")
    pairs = (
        a.join(b, (F.col("pb") == F.col("p")) & (F.col("cb") > F.col("ca")))
        .selectExpr("LEAST(ca, cb) AS u", "GREATEST(ca, cb) AS v")
        .distinct()
        .localCheckpoint(eager=False)  # exact + sample lanes
    )
    sampled = pairs.where(
        F.expr(
            f"CAST(conv(substring(md5(concat('ts:', CAST(u AS STRING),"
            f" ':', CAST(v AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            f" % {_TS_KEEP} = 0"
        )
    ).localCheckpoint(eager=False)

    def tri_count(edges, out):
        e1 = edges.selectExpr("u AS a", "v AS b")
        e2 = edges.selectExpr("u AS b2", "v AS c2")
        w = e1.join(e2, F.col("b2") == F.col("b"))
        e3 = edges.selectExpr("u AS a3", "v AS c3")
        return (
            w.join(
                e3,
                (F.col("a3") == F.col("a"))
                & (F.col("c3") == F.col("c2")),
            )
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    exact_t = tri_count(pairs, "exact_triangles")
    samp_t = tri_count(sampled, "samp")
    n_edges = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    n_samp = sampled.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled_edges")
    )
    return (
        n_edges.crossJoin(F.broadcast(n_samp))
        .crossJoin(F.broadcast(exact_t))
        .crossJoin(F.broadcast(samp_t))
        .selectExpr(
            "n_edges",
            "n_sampled_edges",
            "exact_triangles",
            f"CAST(samp * {_TS_KEEP ** 3} AS BIGINT)"
            " AS estimated_triangles",
            f"CAST(ABS(samp * {_TS_KEEP ** 3} - exact_triangles)"
            " * 1000 div GREATEST(exact_triangles, 1) AS BIGINT)"
            " AS abs_err_permille",
        )
    )


# (label, table, column expr, kind hints computed uniformly)
_STI_COLS = [
    ("orders.o_orderkey", "orders", "CAST(o_orderkey AS {str})"),
    ("orders.o_totalprice", "orders", "CAST(o_totalprice AS {str})"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("customer.c_mktsegment", "customer", "c_mktsegment"),
    ("customer.c_acctbal", "customer", "CAST(c_acctbal AS {str})"),
    ("part.p_brand", "part", "p_brand"),
]


def _sti_lanes(strty: str) -> str:
    lanes = []
    for label, table, expr in _STI_COLS:
        e = expr.format(str=strty)
        lanes.append(
            f"SELECT '{label}' AS col_name, {e} AS v FROM {table}"
        )
    return " UNION ALL ".join(lanes)


@query(
    "dq_semantic_type_inference",
    oracle=f"""
        WITH vals AS ({_sti_lanes("VARCHAR")}),
        graded AS (
            SELECT col_name,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
                   CAST(SUM(CASE WHEN regexp_matches(v,
                        '^-?[0-9]+\\.[0-9][0-9]$') THEN 1 ELSE 0 END)
                        AS BIGINT) AS money_like,
                   CAST(SUM(CASE WHEN regexp_matches(v, '^[0-9]+$')
                        THEN 1 ELSE 0 END) AS BIGINT) AS int_like
            FROM vals GROUP BY col_name
        )
        SELECT col_name, n, ndv,
               CAST(ndv * 1000 // n AS BIGINT) AS distinct_permille,
               CAST(money_like * 1000 // n AS BIGINT)
                   AS money_permille,
               CASE
                 WHEN int_like = n AND ndv = n THEN 'id'
                 WHEN money_like * 1000 // n >= 990 THEN 'money'
                 WHEN ndv * 1000 // n <= 10 THEN 'categorical'
                 ELSE 'other' END AS inferred_type
        FROM graded
        ORDER BY col_name
    """,
    description="Semantic-type inference, the auto-profiler that "
    "tags columns before a human reads them: a fixed panel of six "
    "columns across three tables is graded on distinct ratio, "
    "integer-format and 2-decimal money-format evidence (regex on "
    "the canonical string cast), and classified by the same rule "
    "ladder in both engines — unique all-integer = id, >= 99% "
    "2-decimal = money, <= 1% distinct = categorical. The point is "
    "the CONTRACT: classification from evidence shares, never from "
    "column names. 100 TB shape: one scan per table (lanes union "
    "over shared scans), all counts partial-agg friendly, output "
    "bounded by the panel — the catalog-enrichment pass every data "
    "platform schedules nightly.",
)
def dq_semantic_type_inference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    frames = {
        "orders": load_table(spark, sf_dir, "orders"),
        "customer": load_table(spark, sf_dir, "customer"),
        "part": load_table(spark, sf_dir, "part"),
    }
    lanes = []
    for label, table, expr in _STI_COLS:
        e = expr.format(str="STRING")
        lanes.append(
            frames[table].selectExpr(
                f"'{label}' AS col_name", f"{e} AS v"
            )
        )
    vals = lanes[0]
    for ln in lanes[1:]:
        vals = vals.unionAll(ln)
    graded = vals.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("v").cast("long").alias("ndv"),
        F.sum(
            F.when(
                F.expr(r"v rlike '^-?[0-9]+\\.[0-9][0-9]$'"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("money_like"),
        F.sum(
            F.when(F.expr("v rlike '^[0-9]+$'"), 1).otherwise(0)
        )
        .cast("long")
        .alias("int_like"),
    )
    return graded.selectExpr(
        "col_name",
        "n",
        "ndv",
        "CAST(ndv * 1000 div n AS BIGINT) AS distinct_permille",
        "CAST(money_like * 1000 div n AS BIGINT) AS money_permille",
        "CASE WHEN int_like = n AND ndv = n THEN 'id'"
        " WHEN money_like * 1000 div n >= 990 THEN 'money'"
        " WHEN ndv * 1000 div n <= 10 THEN 'categorical'"
        " ELSE 'other' END AS inferred_type",
    ).orderBy("col_name")
