"""Wave-159 (round 5): physical-layout and optimizer-statistics audits.

Two queries a 100 TB deployment runs before trusting its own plans:

* ``layout_range_partition_balance`` — the range-vs-hash partitioner
  bake-off on a LOW-CARDINALITY key (l_quantity, 50 distinct values).
  Exact rank cutpoints are derived from the 50-row value histogram, so
  the "range partitioner" here is exactly what Spark's
  ``repartitionByRange`` / sort-shuffle boundary sampler converges to
  with perfect samples — and the audit shows why it still skews when
  the key domain is smaller than the partition count. Hash-of-key and
  hash-of-row strategies are measured under the same load metric.

* ``optimizer_independence_qerror`` — the textbook cardinality-
  estimation audit: single-predicate selectivities combined under the
  optimizer's independence assumption vs the TRUE multi-predicate
  counts, with q-error in exact permille. One scan computes all three
  predicate flags; everything downstream lives on the 8-row flag cube.

Extends the reference's single aggregation query
(`glue_job_script.py:26-53` in /root/reference) with the engine-
introspection surface a production lakehouse needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_RP_BUCKETS = 16  # target partition count for the bake-off


@query(
    "layout_range_partition_balance",
    oracle=f"""
        WITH hist AS (
            SELECT CAST(l_quantity AS BIGINT) AS v,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist
        ), cum AS (
            SELECT v, cnt,
                   CAST(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                        UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c
            FROM hist
        ), spine AS (
            SELECT UNNEST(range(1, {_RP_BUCKETS})) AS i
        ), cuts AS (
            SELECT i, MIN(v) AS cut
            FROM spine JOIN tot ON TRUE
            JOIN cum ON cum.c >= (i * n) // {_RP_BUCKETS}
            GROUP BY i
        ), vmap AS (
            SELECT h.v, h.cnt,
                   (SELECT COUNT(*) FROM cuts WHERE h.v > cuts.cut)
                       AS range_b,
                   {sql_hex8("concat('rq:', CAST(h.v AS VARCHAR))")}
                       % {_RP_BUCKETS} AS hashkey_b
            FROM hist h
        ), range_loads AS (
            SELECT range_b AS b, SUM(cnt) AS load FROM vmap GROUP BY 1
        ), hashkey_loads AS (
            SELECT hashkey_b AS b, SUM(cnt) AS load FROM vmap GROUP BY 1
        ), hashrow_loads AS (
            SELECT {sql_hex8(
                "concat('rr:', CAST(l_orderkey AS VARCHAR), ':', "
                "CAST(l_linenumber AS VARCHAR))"
            )} % {_RP_BUCKETS} AS b,
                   CAST(COUNT(*) AS BIGINT) AS load
            FROM lineitem GROUP BY 1
        ), all_loads AS (
            SELECT 'range_cutpoints' AS strategy, b, load FROM range_loads
            UNION ALL
            SELECT 'hash_of_key', b, load FROM hashkey_loads
            UNION ALL
            SELECT 'hash_of_row', b, load FROM hashrow_loads
        )
        SELECT strategy,
               CAST(COUNT(*) AS BIGINT) AS nonempty_buckets,
               CAST(MAX(load) AS BIGINT) AS max_load,
               CAST(MIN(load) AS BIGINT) AS min_load,
               CAST(MAX(load) * {_RP_BUCKETS} * 1000
                    // (SELECT n FROM tot) AS BIGINT) AS skew_permille
        FROM all_loads
        GROUP BY strategy
        ORDER BY strategy
    """,
    description="Range-vs-hash partitioner balance audit on a LOW-"
    "cardinality key (l_quantity: 50 distinct values into 16 target "
    "partitions). Exact rank cutpoints cut_i = min v with cumcount >= "
    "(i*N) div 16 come from the 50-row value histogram — precisely "
    "what repartitionByRange's boundary sampler converges to — and "
    "bucket(v) = #cuts below v, so identical heavy values CANNOT "
    "split across partitions and the max-load permille exposes the "
    "skew hash-of-row avoids. 100 TB shape: one map-side partial agg "
    "to the 50-row histogram (every downstream step lives on <= 50 "
    "rows, bounded spine window), plus one independent full-scan agg "
    "for the hash-of-row baseline (16 groups, partial-agg friendly); "
    "no row-level join, no sort, no collect. The audit is the cheap "
    "pre-check that tells a 1000-executor job whether a range "
    "partition write will straggle before it burns the cluster.",
)
def layout_range_partition_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hist = (
        li.groupBy(F.col("l_quantity").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)  # 50 rows feed 4 consumers
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    # bounded-spine window: 50 histogram rows, documented safe
    cum = hist.withColumn(
        "c",
        F.sum("cnt")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long"),
    )
    spine = spark.range(1, _RP_BUCKETS).select(F.col("id").alias("i"))
    cuts = (
        spine.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(cum),
            F.col("c") >= F.expr(f"(i * n) div {_RP_BUCKETS}"),
        )
        .groupBy("i")
        .agg(F.min("v").alias("cut"))
    )
    cuts_agg = cuts.agg(
        F.collect_list("cut").alias("cut_list")
    )
    vmap = (
        hist.crossJoin(F.broadcast(cuts_agg))
        .select(
            "v",
            "cnt",
            F.expr("size(filter(cut_list, c -> v > c))")
            .cast("long")
            .alias("range_b"),
            (
                hex8(F.concat(F.lit("rq:"), F.col("v").cast("string")))
                % _RP_BUCKETS
            ).alias("hashkey_b"),
        )
    )
    range_loads = vmap.groupBy(F.col("range_b").alias("b")).agg(
        F.sum("cnt").alias("load")
    )
    hashkey_loads = vmap.groupBy(F.col("hashkey_b").alias("b")).agg(
        F.sum("cnt").alias("load")
    )
    hashrow_loads = li.groupBy(
        (
            hex8(
                F.concat(
                    F.lit("rr:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % _RP_BUCKETS
        ).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("load"))
    all_loads = (
        range_loads.select(F.lit("range_cutpoints").alias("strategy"), "b", "load")
        .unionAll(
            hashkey_loads.select(
                F.lit("hash_of_key").alias("strategy"), "b", "load"
            )
        )
        .unionAll(
            hashrow_loads.select(
                F.lit("hash_of_row").alias("strategy"), "b", "load"
            )
        )
    )
    return (
        all_loads.crossJoin(F.broadcast(tot))
        .groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nonempty_buckets"),
            F.max("load").cast("long").alias("max_load"),
            F.min("load").cast("long").alias("min_load"),
            F.expr(
                f"CAST(MAX(load) * {_RP_BUCKETS} * 1000 div MAX(n)"
                f" AS BIGINT)"
            ).alias("skew_permille"),
        )
        .orderBy("strategy")
    )


@query(
    "optimizer_independence_qerror",
    oracle="""
        WITH flags AS (
            SELECT CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS fa,
                   CASE WHEN CAST(l_discount AS DECIMAL(3,2)) * 100
                        >= 6 THEN 1 ELSE 0 END AS fb,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS fc,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1, 2, 3
        ), marg AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(fa * cnt) AS BIGINT) AS ca,
                   CAST(SUM(fb * cnt) AS BIGINT) AS cb,
                   CAST(SUM(fc * cnt) AS BIGINT) AS cc,
                   CAST(SUM(fa * fb * cnt) AS BIGINT) AS c_ab,
                   CAST(SUM(fa * fc * cnt) AS BIGINT) AS c_ac,
                   CAST(SUM(fb * fc * cnt) AS BIGINT) AS c_bc,
                   CAST(SUM(fa * fb * fc * cnt) AS BIGINT) AS c_abc
            FROM flags
        ), combos AS (
            SELECT 'AB' AS combo,
                   CAST(CAST(ca AS HUGEINT) * cb // n AS BIGINT) AS est,
                   c_ab AS act FROM marg
            UNION ALL
            SELECT 'AC',
                   CAST(CAST(ca AS HUGEINT) * cc // n AS BIGINT),
                   c_ac FROM marg
            UNION ALL
            SELECT 'BC',
                   CAST(CAST(cb AS HUGEINT) * cc // n AS BIGINT),
                   c_bc FROM marg
            UNION ALL
            SELECT 'ABC',
                   CAST(CAST(ca AS HUGEINT) * cb * cc // (CAST(n AS
                        HUGEINT) * n) AS BIGINT),
                   c_abc FROM marg
        )
        SELECT combo, est AS est_rows, act AS actual_rows,
               CAST(GREATEST(est, act) * 1000
                    // GREATEST(1, LEAST(est, act)) AS BIGINT)
                   AS qerror_permille
        FROM combos
        ORDER BY combo
    """,
    description="Cardinality-estimation audit: the optimizer's "
    "independence assumption (sel(A AND B) = sel(A)*sel(B)) vs TRUE "
    "multi-predicate counts for three correlated lineitem predicates "
    "(quantity >= 25, discount-cents >= 6, returnflag = 'R'), q-error "
    "= max(est,act)/min(est,act) in exact permille. Products ca*cb*cc "
    "(~1e20 at sf1000) ride DECIMAL(38)/HUGEINT with truncating div, "
    "bit-equal across engines. 100 TB shape: ONE scan computes all "
    "three flags into an 8-row flag cube (map-side partial agg on 3 "
    "bits); every marginal, pairwise, and triple count is then an 8-"
    "row fold — the audit costs exactly one pass no matter how many "
    "predicate combos are graded. This is the measurement that tells "
    "you whether a stats-based join reorder on these columns can be "
    "trusted or needs a runtime AQE correction.",
)
def optimizer_independence_qerror(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    flags = li.groupBy(
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("fa"),
        F.when(
            F.col("l_discount").cast("decimal(3,2)") * 100 >= 6, 1
        )
        .otherwise(0)
        .alias("fb"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("fc"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    marg = flags.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("fa") * F.col("cnt")).cast("long").alias("ca"),
        F.sum(F.col("fb") * F.col("cnt")).cast("long").alias("cb"),
        F.sum(F.col("fc") * F.col("cnt")).cast("long").alias("cc"),
        F.sum(F.col("fa") * F.col("fb") * F.col("cnt"))
        .cast("long")
        .alias("c_ab"),
        F.sum(F.col("fa") * F.col("fc") * F.col("cnt"))
        .cast("long")
        .alias("c_ac"),
        F.sum(F.col("fb") * F.col("fc") * F.col("cnt"))
        .cast("long")
        .alias("c_bc"),
        F.sum(F.col("fa") * F.col("fb") * F.col("fc") * F.col("cnt"))
        .cast("long")
        .alias("c_abc"),
    )
    combos = marg.selectExpr(
        "stack(4, "
        " 'AB', CAST(CAST(ca AS DECIMAL(38,0)) * cb div n AS BIGINT),"
        "       c_ab,"
        " 'AC', CAST(CAST(ca AS DECIMAL(38,0)) * cc div n AS BIGINT),"
        "       c_ac,"
        " 'BC', CAST(CAST(cb AS DECIMAL(38,0)) * cc div n AS BIGINT),"
        "       c_bc,"
        " 'ABC', CAST(CAST(ca AS DECIMAL(38,0)) * cb * cc div"
        "        (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT),"
        "       c_abc"
        ") AS (combo, est_rows, actual_rows)"
    )
    return combos.select(
        "combo",
        "est_rows",
        "actual_rows",
        F.expr(
            "CAST(GREATEST(est_rows, actual_rows) * 1000"
            " div GREATEST(1, LEAST(est_rows, actual_rows)) AS BIGINT)"
        ).alias("qerror_permille"),
    ).orderBy("combo")
