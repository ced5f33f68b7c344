"""Wave-165 (round 5): HyperLogLog from scratch + compaction planning.

* ``approx_hll_register_audit`` — a 64-register HyperLogLog built
  from first principles with NO float path: md5-derived 32-bit
  hashes, bucket = h % 64, rank rho = 27 - bitlen(h div 64) + 1 via
  a shared generated CASE ladder, registers = MAX(rho) per bucket
  (idempotent under duplicates, the whole point of HLL), and the raw
  estimate alpha*m^2/sum(2^-M) evaluated EXACTLY as
  709 * m^2 * 2^maxM div (1000 * sum(2^(maxM - M_j))) — the
  common-denominator trick that turns the harmonic mean into integer
  arithmetic. Compared against the true NDV with permille error.

* ``layout_compaction_coalesce_plan`` — the OPTIMIZE/compaction
  planner every lakehouse runs: per-day "files" (row counts as a
  byte proxy), greedy adjacent coalescing into 128 KB targets via
  group = exclusive-running-bytes div target (one prefix sum on the
  bounded day spine — exactly Spark's own coalesce-by-size policy),
  with before/after counts, fill factor, and oversize diagnostics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import query, sql_hex8

_HLL_M = 64  # registers
_HLL_WBITS = 26  # 32-bit hash minus 6 bucket bits


def _rho_case(var: str) -> str:
    """rho = leading zeros of the 26-bit word + 1, portable CASE.

    w in [2^(k-1), 2^k) has bitlen k -> rho = 26 - k + 1; w = 0 ->
    rho = 27. Branches generated high-to-low so the first match wins.
    """
    branches = " ".join(
        f"WHEN {var} >= {1 << (k - 1)} THEN {_HLL_WBITS - k + 1}"
        for k in range(_HLL_WBITS, 0, -1)
    )
    return f"(CASE {branches} ELSE {_HLL_WBITS + 1} END)"


@query(
    "approx_hll_register_audit",
    oracle=f"""
        WITH hashed AS (
            SELECT {sql_hex8("concat('hll:', CAST(o_custkey AS VARCHAR))")}
                       AS h,
                   o_custkey AS ck
            FROM orders
        ), regs AS (
            SELECT h % {_HLL_M} AS b,
                   MAX({_rho_case(f"(h // {_HLL_M})")}) AS m_j
            FROM hashed GROUP BY 1
        ), stats AS (
            SELECT CAST(MAX(m_j) AS BIGINT) AS max_m,
                   CAST(MIN(m_j) AS BIGINT) AS min_m,
                   CAST(COUNT(*) AS BIGINT) AS n_regs
            FROM regs
        ), ssum AS (
            SELECT CAST(SUM(CAST(1 AS BIGINT)
                        << CAST(s.max_m - r.m_j AS INTEGER))
                        AS BIGINT) AS denom,
                   MAX(s.max_m) AS max_m,
                   MAX(s.min_m) AS min_m,
                   MAX(s.n_regs) AS n_regs
            FROM regs r CROSS JOIN stats s
        ), truth AS (
            SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv
            FROM orders
        )
        SELECT t.ndv AS true_ndv,
               CAST((709 * {_HLL_M} * {_HLL_M}
                     * (CAST(1 AS BIGINT) << CAST(s.max_m AS INTEGER)))
                    // (1000 * s.denom) AS BIGINT)
                   AS hll_estimate,
               CAST(ABS((709 * {_HLL_M} * {_HLL_M}
                     * (CAST(1 AS BIGINT) << CAST(s.max_m AS INTEGER)))
                    // (1000 * s.denom) - t.ndv)
                    * 1000 // t.ndv AS BIGINT) AS abs_err_permille,
               s.max_m AS max_register,
               s.min_m AS min_register,
               s.n_regs AS nonempty_registers
        FROM ssum s CROSS JOIN truth t
    """,
    description="HyperLogLog from first principles with NO float "
    "path: 64 registers over md5-derived 32-bit hashes, rank rho = "
    "leading-zeros + 1 via a generated high-to-low CASE ladder "
    "(shared by both engines), register = MAX(rho) per bucket — "
    "idempotent under duplicates, which is WHY HLL merges across "
    "partitions for free — and the raw estimator alpha_64 * m^2 / "
    "sum(2^-M_j) evaluated exactly as 709*m^2*2^maxM div "
    "(1000*sum(2^(maxM-M_j))): the common-denominator trick that "
    "turns the harmonic mean into pure integer arithmetic, bit-equal "
    "across engines. Audited against the exact NDV with permille "
    "error. 100 TB shape: the register table is a 64-row MAX "
    "aggregate (map-side combine, mergeable sketches — THE "
    "cardinality sketch for petabyte distinct counts); the exact "
    "companion is one COUNT DISTINCT shuffle.",
)
def approx_hll_register_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hashed = orders.selectExpr(
        "CAST(conv(substring(md5(concat('hll:', CAST(o_custkey AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT) AS h"
    )
    regs = hashed.groupBy(F.expr(f"h % {_HLL_M}").alias("b")).agg(
        F.expr(f"MAX({_rho_case(f'(h div {_HLL_M})')})").alias("m_j")
    )
    stats = regs.agg(
        F.max("m_j").cast("long").alias("max_m"),
        F.min("m_j").cast("long").alias("min_m"),
        F.count(F.lit(1)).cast("long").alias("n_regs"),
    )
    ssum = regs.crossJoin(F.broadcast(stats)).agg(
        F.expr(
            "CAST(SUM(shiftleft(CAST(1 AS BIGINT),"
            " CAST(max_m - m_j AS INT))) AS BIGINT)"
        ).alias("denom"),
        F.max("max_m").alias("max_m"),
        F.max("min_m").alias("min_m"),
        F.max("n_regs").alias("n_regs"),
    )
    truth = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("ndv")
    )
    est = (
        f"(709 * {_HLL_M} * {_HLL_M}"
        f" * shiftleft(CAST(1 AS BIGINT), CAST(max_m AS INT)))"
        f" div (1000 * denom)"
    )
    return ssum.crossJoin(F.broadcast(truth)).selectExpr(
        "ndv AS true_ndv",
        f"CAST({est} AS BIGINT) AS hll_estimate",
        f"CAST(ABS({est} - ndv) * 1000 div ndv AS BIGINT)"
        " AS abs_err_permille",
        "max_m AS max_register",
        "min_m AS min_register",
        "n_regs AS nonempty_registers",
    )


_COMPACT_TARGET = 128_000  # target "bytes" per compacted file
_ROW_BYTES = 100  # byte proxy per row


@query(
    "layout_compaction_coalesce_plan",
    oracle=f"""
        WITH files AS (
            SELECT o_orderdate AS d,
                   CAST(COUNT(*) * {_ROW_BYTES} AS BIGINT) AS bytes
            FROM orders GROUP BY 1
        ), planned AS (
            SELECT d, bytes,
                   CAST((SUM(bytes) OVER (ORDER BY d ROWS BETWEEN
                        UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
                        // {_COMPACT_TARGET} AS BIGINT) AS grp
            FROM files
        ), groups AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(bytes) AS BIGINT) AS grp_bytes
            FROM planned GROUP BY grp
        )
        SELECT CAST(SUM(n_files) AS BIGINT) AS n_files_before,
               CAST(COUNT(*) AS BIGINT) AS n_files_after,
               CAST(MAX(grp_bytes) AS BIGINT) AS max_group_bytes,
               CAST(MIN(grp_bytes) AS BIGINT) AS min_group_bytes,
               CAST(SUM(grp_bytes) * 1000
                    // (COUNT(*) * {_COMPACT_TARGET}) AS BIGINT)
                   AS fill_permille,
               CAST(SUM(CASE WHEN n_files = 1
                        AND grp_bytes > {_COMPACT_TARGET}
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS oversized_singletons
        FROM groups
    """,
    description="The OPTIMIZE/compaction planner every lakehouse "
    "runs: per-day 'files' (row counts x 100 as the byte proxy), "
    "greedily coalesced in date order into 128 KB targets via grp = "
    "exclusive-running-bytes div target — EXACTLY Spark's own "
    "coalesce-by-size policy (each group's pre-existing bytes are "
    "below target, so every group except oversized singletons lands "
    "in [target, target + max_file)). Emits before/after file "
    "counts, fill factor permille, min/max group bytes, and the "
    "oversized-singleton count that tells the operator which files "
    "to SPLIT instead. 100 TB shape: file metadata is already "
    "bounded (one row per file, not per data row) and the prefix "
    "sum rides the bounded day spine; at real scale this plans "
    "millions of files with one partial agg + one bounded window — "
    "the small-files problem, measured before it burns the "
    "NameNode.",
)
def layout_compaction_coalesce_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.count(F.lit(1)) * _ROW_BYTES).cast("long").alias("bytes")
    )
    run = distributed_running_total(
        files.withColumn("mb", F.expr("month(d) + 100 * year(d)")),
        F.col("bytes"),
        "mb",
        ["d"],
        out_col="run_incl",
        zero=F.lit(0).cast("bigint"),
    )
    planned = run.select(
        "d",
        "bytes",
        F.expr(
            f"CAST((run_incl - bytes) div {_COMPACT_TARGET} AS BIGINT)"
        ).alias("grp"),
    )
    groups = planned.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("grp_bytes"),
    )
    return groups.agg(
        F.sum("n_files").cast("long").alias("n_files_before"),
        F.count(F.lit(1)).cast("long").alias("n_files_after"),
        F.max("grp_bytes").cast("long").alias("max_group_bytes"),
        F.min("grp_bytes").cast("long").alias("min_group_bytes"),
        F.expr(
            f"CAST(SUM(grp_bytes) * 1000"
            f" div (COUNT(*) * {_COMPACT_TARGET}) AS BIGINT)"
        ).alias("fill_permille"),
        F.sum(
            F.when(
                (F.col("n_files") == 1)
                & (F.col("grp_bytes") > _COMPACT_TARGET),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("oversized_singletons"),
    )
