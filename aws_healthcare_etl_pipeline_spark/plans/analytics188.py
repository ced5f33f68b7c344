"""Wave-211 (round 7, part 1): runtime-filter join pattern, signed
Count-Sketch, HBOS outliers, window semantic batteries (IGNORE NULLS,
percent_rank/cume_dist identities), Wilcoxon signed-rank, progressive
tax brackets, EDF feasibility, two-choice load balancing, pass@k
estimation, resource-allocation link prediction, and missingness
pattern mining.

All integer-exact (md5-derived hashes, cent fixed-point, cross-
multiplied ratios, HUGEINT/DECIMAL(38) floor division) so every oracle
pins values bit-for-bit. The only doubles are percent_rank/cume_dist,
which are single IEEE divisions of small integers — exactly rounded,
portable (see plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import dec, hex4, query, sql_hex4


def _nib5_parity_sql(expr: str) -> str:
    """DuckDB: parity of the 5th hex nibble of md5(expr)."""
    return (f"((strpos('0123456789abcdef', substr(md5({expr}), 5, 1)) - 1)"
            " % 2)"
    )


# ------------------------------- bloom-prefiltered join equivalence

_BF_WORDS = 32  # 32 words x 32 bits = 1024-bit filter
_BF_BITS = _BF_WORDS * 32
_BF_K = 3


@query(
    "join_bloom_prefilter_equivalence",
    oracle=f"""
        WITH dim AS (
            SELECT s_suppkey FROM supplier WHERE s_acctbal >= 9000.00
        ), dimpos AS (
            SELECT ({sql_hex4(
                "'bf' || CAST(i AS VARCHAR) || ':' || CAST(s_suppkey AS VARCHAR)"
            )}) % {_BF_BITS} AS pos
            FROM dim CROSS JOIN (SELECT UNNEST(range(3)) AS i)
        ), bloom AS (
            SELECT pos // 32 AS slot,
                   BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER))
                       AS bits
            FROM dimpos GROUP BY 1
        ), keys AS (
            SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1
        ), probes AS (
            SELECT k, cnt,
                   ({sql_hex4(
                "'bf' || CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)"
            )}) % {_BF_BITS} AS pos
            FROM keys CROSS JOIN (SELECT UNNEST(range(3)) AS i)
        ), verdict AS (
            SELECT p.k, MIN(p.cnt) AS cnt,
                   CAST(SUM(CASE WHEN (COALESCE(b.bits, 0)
                                 & (CAST(1 AS BIGINT)
                                    << CAST(p.pos % 32 AS INTEGER))) <> 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS hits
            FROM probes p LEFT JOIN bloom b ON b.slot = p.pos // 32
            GROUP BY p.k
        ), flagged AS (
            SELECT v.k, v.cnt, v.hits = {_BF_K} AS pass,
                   EXISTS (SELECT 1 FROM dim d WHERE d.s_suppkey = v.k)
                       AS member
            FROM verdict v
        ), plain AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS fact_plain_semi
            FROM lineitem l
            WHERE EXISTS (SELECT 1 FROM dim d WHERE d.s_suppkey = l.l_suppkey)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS keys_pass,
               CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
                   AS keys_member,
               CAST(SUM(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END)
                    AS BIGINT) AS keys_false_pos,
               CAST(SUM(cnt) AS BIGINT) AS fact_rows,
               CAST(SUM(CASE WHEN pass THEN cnt ELSE 0 END) AS BIGINT)
                   AS fact_pass,
               CAST(SUM(CASE WHEN member THEN cnt ELSE 0 END) AS BIGINT)
                   AS fact_member,
               MIN(p.fact_plain_semi) AS fact_plain_semi,
               SUM(CASE WHEN member THEN cnt ELSE 0 END)
                   = MIN(p.fact_plain_semi)
                   AND SUM(CASE WHEN member AND NOT pass THEN 1 ELSE 0 END)
                       = 0 AS prefilter_sound
        FROM flagged CROSS JOIN plain p
    """,
    description="The runtime-filter join pattern Spark applies at 100 TB "
    "(bloom-filter pre-filtering / semi-join reduction, cf. Spark's "
    "InjectRuntimeFilter): a 1024-bit k=3 Bloom filter built from the "
    "selective dimension subset is probed by the fact side BEFORE the "
    "exact join, so most non-matching fact rows never reach the join "
    "shuffle. The filter itself is md5-derived and engine-portable; the "
    "query audits keys passed / members / false positives at both key and "
    "row granularity and PROVES soundness: every member key passes (no "
    "false negatives — the Bloom guarantee) and the prefiltered exact "
    "join returns exactly the plain semi-join count. Probing runs on the "
    "grouped key domain (dimension-sized) and the 32-word filter "
    "broadcasts — at 100 TB the fact scan is the only full-data pass.",
)
def join_bloom_prefilter_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    line = load_table(spark, sf_dir, "lineitem")
    dim = supplier.filter(dec("s_acctbal", "decimal(10,2)") >= 9000.00).select(
        "s_suppkey"
    )
    idx = F.explode(F.array(*[F.lit(i) for i in range(_BF_K)])).alias("i")

    def pos_col(key: F.Column) -> F.Column:
        return (
            hex4(
                F.concat(
                    F.lit("bf"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    key.cast("string"),
                )
            )
            % _BF_BITS
        )

    bloom = (
        dim.select("s_suppkey", idx)
        .select((pos_col(F.col("s_suppkey"))).alias("pos"))
        .groupBy(F.expr("pos div 32").alias("slot"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))"
            ).alias("bits")
        )
    )
    keys = line.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    probes = keys.select("k", "cnt", idx).select(
        "k", "cnt", pos_col(F.col("k")).alias("pos")
    )
    verdict = (
        probes.join(
            F.broadcast(bloom), F.expr("pos div 32") == bloom.slot, "left"
        )
        .select(
            "k",
            "cnt",
            (
                F.expr(
                    "coalesce(bits, CAST(0 AS BIGINT)) "
                    "& shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
                )
                != 0
            )
            .cast("int")
            .alias("hit"),
        )
        .groupBy("k")
        .agg(
            F.min("cnt").alias("cnt"),
            (F.sum("hit") == _BF_K).alias("pass"),
        )
    )
    flagged = verdict.join(
        F.broadcast(dim.withColumnRenamed("s_suppkey", "k").withColumn(
            "member", F.lit(True)
        )),
        "k",
        "left",
    ).fillna({"member": False})
    # the equivalence proof runs the PLAIN semi join on the raw fact rows
    plain = (
        line.join(F.broadcast(dim), line.l_suppkey == dim.s_suppkey, "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("fact_plain_semi"))
    )
    return flagged.crossJoin(F.broadcast(plain)).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("pass").cast("int")).cast("long").alias("keys_pass"),
        F.sum(F.col("member").cast("int")).cast("long").alias("keys_member"),
        F.sum((F.col("pass") & ~F.col("member")).cast("int"))
        .cast("long")
        .alias("keys_false_pos"),
        F.sum("cnt").cast("long").alias("fact_rows"),
        F.sum(F.when(F.col("pass"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("fact_pass"),
        F.sum(F.when(F.col("member"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("fact_member"),
        F.min("fact_plain_semi").alias("fact_plain_semi"),
        (
            (
                F.sum(F.when(F.col("member"), F.col("cnt")).otherwise(0))
                == F.min("fact_plain_semi")
            )
            & (
                F.sum((F.col("member") & ~F.col("pass")).cast("int")) == 0
            )
        ).alias("prefilter_sound"),
    )


# ------------------------------------------- signed Count-Sketch

_CS_ROWS = 3
_CS_W = 64
_CS_PANEL = 20


@query(
    "approx_count_sketch_signed",
    oracle=f"""
        WITH cells AS (
            SELECT r,
                   ({sql_hex4(
                "'cs' || CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)"
            )}) % {_CS_W} AS bucket,
                   CAST(SUM(CASE WHEN ({_nib5_parity_sql(
                "'cs' || CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)"
            )}) = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val
            FROM lineitem CROSS JOIN (SELECT UNNEST(range(3)) AS r)
            GROUP BY 1, 2
        ), exact AS (
            SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM lineitem GROUP BY 1
        ), panel AS (
            SELECT k, exact_cnt FROM exact
            ORDER BY exact_cnt DESC, k LIMIT {_CS_PANEL}
        ), ests AS (
            SELECT p.k, p.exact_cnt,
                   CASE WHEN ({_nib5_parity_sql(
                "'cs' || CAST(c.r AS VARCHAR) || ':' || CAST(p.k AS VARCHAR)"
            )}) = 0 THEN c.val ELSE -c.val END AS est
            FROM panel p JOIN cells c
              ON c.bucket = ({sql_hex4(
                "'cs' || CAST(c.r AS VARCHAR) || ':' || CAST(p.k AS VARCHAR)"
            )}) % {_CS_W}
        ), med AS (
            SELECT k, exact_cnt,
                   SUM(est) - MAX(est) - MIN(est) AS cs_estimate
            FROM ests GROUP BY k, exact_cnt
        )
        SELECT k AS partkey, exact_cnt,
               CAST(cs_estimate AS BIGINT) AS cs_estimate,
               CAST(ABS(cs_estimate - exact_cnt) AS BIGINT) AS abs_err,
               CAST(ABS(cs_estimate - exact_cnt) * 1000 // exact_cnt
                    AS BIGINT) AS err_permille
        FROM med ORDER BY exact_cnt DESC, partkey
    """,
    description="Count-Sketch (signed Count-Min, Charikar-Chen-Farach-"
    "Colton): d=3 hash rows x w=64 buckets, each occurrence contributes "
    "a +-1 md5-derived sign so collisions cancel in expectation — the "
    "unbiased counterpart of Count-Min's always-overestimate, and the "
    "primitive inside feature-hashing and heavy-hitter pipelines. The "
    "sketch build is one map-side explode (3x, ONE md5 digest per row "
    "per hash row: bucket from nibbles 1-4, sign from nibble 5 — "
    "subexpression elimination computes the digest once) plus one 192-cell "
    "aggregation — at 100 TB it is a single fact scan with a tiny "
    "combine, the whole point of sketching. Estimates (median-of-3 via "
    "the sum-max-min identity) are audited against exact counts for the "
    "top-20 keys with exact integer error permilles.",
)
def approx_count_sketch_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    rs = F.explode(F.array(*[F.lit(r) for r in range(_CS_ROWS)])).alias("r")

    def _digest(key: F.Column) -> F.Column:
        # ONE md5 per (row, hash-row): bucket from nibbles 1-4, sign from
        # nibble 5 — subexpression elimination computes the digest once
        return F.md5(
            F.concat(
                F.lit("cs"),
                F.col("r").cast("string"),
                F.lit(":"),
                key.cast("string"),
            )
        )

    def bucket(key: F.Column) -> F.Column:
        h = _digest(key)
        return F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % _CS_W

    def sign(key: F.Column) -> F.Column:
        h = _digest(key)
        parity = F.conv(F.substring(h, 5, 1), 16, 10).cast("long") % 2
        return F.when(parity == 0, F.lit(1)).otherwise(F.lit(-1))

    # project the digest ONCE (grouping and aggregate expressions live in
    # different operators, so CSE alone cannot share the md5 across them)
    cells = (
        line.select(F.col("l_partkey"), rs)
        .select(F.col("r"), _digest(F.col("l_partkey")).alias("h"))
        .select(
            (F.conv(F.substring("h", 1, 4), 16, 10).cast("long") % _CS_W)
            .alias("bucket_h"),
            F.when(
                F.conv(F.substring("h", 5, 1), 16, 10).cast("long") % 2 == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sgn"),
            F.col("r"),
        )
        .groupBy(F.col("r"), F.col("bucket_h").alias("bucket"))
        .agg(F.sum("sgn").cast("long").alias("val"))
    )
    exact = line.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    panel = exact.orderBy(F.desc("exact_cnt"), F.asc("k")).limit(_CS_PANEL)
    probed = panel.select("k", "exact_cnt", rs)
    cells_r = (
        cells.withColumnRenamed("r", "cr")
        .withColumnRenamed("bucket", "cbucket")
    )
    ests = probed.join(
        F.broadcast(cells_r),
        (F.col("cr") == F.col("r"))
        & (F.col("cbucket") == bucket(F.col("k"))),
    ).select(
        "k",
        "exact_cnt",
        F.when(sign(F.col("k")) == 1, F.col("val"))
        .otherwise(-F.col("val"))
        .alias("est"),
    )
    med = ests.groupBy("k", "exact_cnt").agg(
        (F.sum("est") - F.max("est") - F.min("est")).alias("cs_estimate")
    )
    return med.select(
        F.col("k").alias("partkey"),
        "exact_cnt",
        F.col("cs_estimate").cast("long").alias("cs_estimate"),
        F.abs(F.col("cs_estimate") - F.col("exact_cnt"))
        .cast("long")
        .alias("abs_err"),
        F.expr(
            "CAST(ABS(cs_estimate - exact_cnt) * 1000 div exact_cnt AS BIGINT)"
        ).alias("err_permille"),
    ).orderBy(F.desc("exact_cnt"), F.asc("partkey"))


# ------------------------------------------------ HBOS outliers

_HBOS_PRICE_BIN = 5_000_000  # cents: $50k histogram buckets
_HBOS_TOPK = 15


@query(
    "anomaly_hbos_bincount_topk",
    oracle=f"""
        WITH feat AS (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
                       // {_HBOS_PRICE_BIN} AS f_price,
                   CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS f_month,
                   o_orderpriority AS f_prio
            FROM orders
        ), h1 AS (SELECT f_price, CAST(COUNT(*) AS BIGINT) AS c1
                  FROM feat GROUP BY 1),
           h2 AS (SELECT f_month, CAST(COUNT(*) AS BIGINT) AS c2
                  FROM feat GROUP BY 1),
           h3 AS (SELECT f_prio, CAST(COUNT(*) AS BIGINT) AS c3
                  FROM feat GROUP BY 1)
        SELECT f.o_orderkey, CAST(c1 * c2 * c3 AS BIGINT) AS hbos_score,
               c1, c2, c3
        FROM feat f
        JOIN h1 USING (f_price) JOIN h2 USING (f_month) JOIN h3 USING (f_prio)
        ORDER BY hbos_score, f.o_orderkey LIMIT {_HBOS_TOPK}
    """,
    description="HBOS (histogram-based outlier score, Goldstein-Dengel): "
    "rank rows by the PRODUCT of their per-feature histogram bin counts — "
    "rows in jointly rare bins score lowest. The classic trick is that "
    "HBOS assumes feature independence, which makes it embarrassingly "
    "parallel: three tiny groupBy histograms broadcast back onto one fact "
    "scan, no pairwise distances, no quadratic anything — the reason HBOS "
    "is the standard fast baseline for outlier detection at data-lake "
    "scale. Integer products (counts <= N so the 3-way product fits "
    "BIGINT through ~2e6 rows/bin); deterministic top-15 with orderkey "
    "tiebreak is a TakeOrderedAndProject, never a full sort.",
)
def anomaly_hbos_bincount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    feat = orders.select(
        "o_orderkey",
        F.expr(
            f"CAST(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) "
            f"div {_HBOS_PRICE_BIN} AS BIGINT)"
        ).alias("f_price"),
        F.month(F.col("o_orderdate").cast("date")).cast("long").alias(
            "f_month"
        ),
        F.col("o_orderpriority").alias("f_prio"),
    )
    h1 = feat.groupBy("f_price").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    h2 = feat.groupBy("f_month").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    h3 = feat.groupBy("f_prio").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    return (
        feat.join(F.broadcast(h1), "f_price")
        .join(F.broadcast(h2), "f_month")
        .join(F.broadcast(h3), "f_prio")
        .select(
            "o_orderkey",
            (F.col("c1") * F.col("c2") * F.col("c3"))
            .cast("long")
            .alias("hbos_score"),
            "c1",
            "c2",
            "c3",
        )
        .orderBy("hbos_score", "o_orderkey")
        .limit(_HBOS_TOPK)
    )


# ------------------------------------- IGNORE NULLS window battery


@query(
    "window_ignore_nulls_battery",
    oracle=f"""
        WITH masked AS (
            SELECT event_type, user_id, ts, event_id,
                   CASE WHEN ({sql_hex4("'nn:' || CAST(event_id AS VARCHAR)")})
                             % 5 = 0
                        THEN NULL
                        ELSE CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
                   END AS v
            FROM events
        ), lanes AS (
            SELECT event_type, v,
                   LAST_VALUE(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS ffill,
                   FIRST_VALUE(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS bfill,
                   NTH_VALUE(v, 2 IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS nth2
            FROM masked
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null,
               CAST(SUM(COALESCE(ffill, 0)) AS BIGINT) AS sum_ffill_cents,
               CAST(SUM(COALESCE(bfill, 0)) AS BIGINT) AS sum_bfill_cents,
               CAST(SUM(COALESCE(nth2, 0)) AS BIGINT) AS sum_nth2_cents
        FROM lanes GROUP BY event_type ORDER BY event_type
    """,
    description="IGNORE NULLS window semantics battery: forward-fill "
    "(LAST_VALUE IGNORE NULLS over a trailing frame), backward-fill "
    "(FIRST_VALUE over a leading frame) and NTH_VALUE(2) IGNORE NULLS "
    "over a 20%%-md5-masked cents column — the gap-filling idiom every "
    "sensor/sessionization pipeline uses, checked bit-for-bit across "
    "engines because IGNORE NULLS edge cases (all-null prefix, null at "
    "frame boundary) are where implementations historically diverge. "
    "Per-user frames partition cleanly (one shuffle on user_id); results "
    "aggregate to 5 rows so the check is schema-stable at any SF.",
)
def window_ignore_nulls_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    masked = events.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.when(
            hex4(F.concat(F.lit("nn:"), F.col("event_id").cast("string")))
            % 5
            == 0,
            F.lit(None).cast("long"),
        )
        .otherwise(
            (dec("value", "decimal(10,2)") * 100).cast("long")
        )
        .alias("v"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    lanes = masked.select(
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("ffill"),
        F.first("v", ignorenulls=True).over(fwd).alias("bfill"),
        F.nth_value("v", 2, ignoreNulls=True).over(full).alias("nth2"),
    )
    return (
        lanes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("v").isNull().cast("int")).cast("long").alias(
                "n_null"
            ),
            F.sum(F.coalesce(F.col("ffill"), F.lit(0)))
            .cast("long")
            .alias("sum_ffill_cents"),
            F.sum(F.coalesce(F.col("bfill"), F.lit(0)))
            .cast("long")
            .alias("sum_bfill_cents"),
            F.sum(F.coalesce(F.col("nth2"), F.lit(0)))
            .cast("long")
            .alias("sum_nth2_cents"),
        )
        .orderBy("event_type")
    )


# --------------------------- percent_rank / cume_dist identity battery


# Rank functions over a whole-partition window are an inherent
# bounded-parallelism sort (cardinality(flag)=3 tasks, each growing with
# N) — fine for a semantics battery, wrong to run on the full fact table
# at scale. The battery therefore windows a FIXED-SIZE panel via the
# orders-modulus CASE ladder (mod 1 through sf0.1, so small-SF oracle
# hashes are unchanged); full-scale rank DERIVATION belongs to histogram
# decomposition over the bounded quantity domain (see the counting-sort
# grouped-quantiles lane).
_PRC_LADDER = [(700_000, 1), (2_800_000, 4), (11_200_000, 16)]
_PRC_MOD_MAX = 64


def _prc_mod_case() -> str:
    cases = " ".join(f"WHEN n <= {lim} THEN {m}" for lim, m in _PRC_LADDER)
    return f"CASE {cases} ELSE {_PRC_MOD_MAX} END"


@query(
    "window_percent_rank_cume_battery",
    oracle=f"""
        WITH msel AS (
            SELECT {_prc_mod_case()} AS m
            FROM (SELECT COUNT(*) AS n FROM lineitem)
        ), panel AS (
            SELECT l_returnflag, l_quantity
            FROM lineitem, msel WHERE l_orderkey % msel.m = 0
        ), ranked AS (
            SELECT l_returnflag AS flag,
                   PERCENT_RANK() OVER w AS pr,
                   CUME_DIST() OVER w AS cd,
                   RANK() OVER w AS rk,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n,
                   COUNT(*) OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity
                                  RANGE BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS cnt_le
            FROM panel
            WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        )
        SELECT flag, CAST(MIN(n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pr <> CASE WHEN n > 1
                                  THEN CAST(rk - 1 AS DOUBLE) / (n - 1)
                                  ELSE 0.0 END
                        THEN 1 ELSE 0 END) AS BIGINT) AS pr_mismatch,
               CAST(SUM(CASE WHEN cd <> CAST(cnt_le AS DOUBLE) / n
                        THEN 1 ELSE 0 END) AS BIGINT) AS cd_mismatch,
               CAST(SUM(CAST(FLOOR(pr * 1000000) AS BIGINT)
                        + CAST(FLOOR(cd * 1000000) AS BIGINT)) AS BIGINT)
                   AS checksum_micro
        FROM ranked GROUP BY flag ORDER BY flag
    """,
    description="Distribution-window semantics proof: PERCENT_RANK must "
    "equal (rank-1)/(N-1) and CUME_DIST must equal peers-cumulative/N — "
    "both identities recomputed manually (RANK + a RANGE-frame peer "
    "count) in the same pass and counted for mismatches (zero expected "
    "in BOTH engines; the heavy integer-quantity ties are exactly where "
    "naive implementations drift). The micro-floored checksum pins the "
    "double values across engines — safe because each is a single IEEE "
    "division of small integers. One shuffle on the partition key; "
    "RANGE peer counting is the standard Spark WindowExec path, no "
    "per-row Python anywhere. Because a whole-partition rank window "
    "has parallelism bounded by key cardinality, the battery runs on "
    "a constant-size panel via the orders-modulus ladder (full rows "
    "through sf0.1); deriving ranks AT scale is the histogram-"
    "decomposition job, not a window's.",
)
def window_percent_rank_cume_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    full = load_table(spark, sf_dir, "lineitem")
    n_rows = full.count()  # column-pruned footer count (panel pattern)
    mod = _PRC_MOD_MAX
    for lim, m in _PRC_LADDER:
        if n_rows <= lim:
            mod = m
            break
    line = full.filter(F.col("l_orderkey") % mod == 0).select(
        "l_returnflag", "l_quantity"
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wpart = Window.partitionBy("l_returnflag")
    wrange = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = line.select(
        F.col("l_returnflag").alias("flag"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.rank().over(w).alias("rk"),
        F.count(F.lit(1)).over(wpart).alias("n"),
        F.count(F.lit(1)).over(wrange).alias("cnt_le"),
    )
    manual_pr = F.when(
        F.col("n") > 1,
        (F.col("rk") - 1).cast("double") / (F.col("n") - 1),
    ).otherwise(F.lit(0.0))
    manual_cd = F.col("cnt_le").cast("double") / F.col("n")
    return (
        ranked.groupBy("flag")
        .agg(
            F.min("n").cast("long").alias("n"),
            F.sum((F.col("pr") != manual_pr).cast("int"))
            .cast("long")
            .alias("pr_mismatch"),
            F.sum((F.col("cd") != manual_cd).cast("int"))
            .cast("long")
            .alias("cd_mismatch"),
            F.sum(
                F.floor(F.col("pr") * 1000000).cast("long")
                + F.floor(F.col("cd") * 1000000).cast("long")
            )
            .cast("long")
            .alias("checksum_micro"),
        )
        .orderBy("flag")
    )


# ----------------------------------------- Wilcoxon signed-rank


@query(
    "stat_wilcoxon_signed_rank",
    oracle="""
        WITH per AS (
            SELECT o_custkey AS c,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      BETWEEN 1995 AND 1996
                            THEN CAST(CAST(o_totalprice AS DECIMAL(15,2))
                                      * 100 AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      BETWEEN 1997 AND 1998
                            THEN CAST(CAST(o_totalprice AS DECIMAL(15,2))
                                      * 100 AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      BETWEEN 1995 AND 1996
                            THEN 1 ELSE 0 END) AS BIGINT) AS na,
                   CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE))
                                      BETWEEN 1997 AND 1998
                            THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM orders GROUP BY 1
        ), pairs AS (
            SELECT a - b AS d, ABS(a - b) AS ad
            FROM per WHERE na > 0 AND nb > 0 AND a <> b
        ), rk AS (
            SELECT d,
                   2 * RANK() OVER (ORDER BY ad)
                       + COUNT(*) OVER (PARTITION BY ad) - 1 AS rank2
            FROM pairs
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN d > 0 THEN rank2 ELSE 0 END) AS BIGINT)
                   AS w_plus_x2,
               CAST(SUM(CASE WHEN d < 0 THEN rank2 ELSE 0 END) AS BIGINT)
                   AS w_minus_x2,
               CAST(LEAST(SUM(CASE WHEN d > 0 THEN rank2 ELSE 0 END),
                          SUM(CASE WHEN d < 0 THEN rank2 ELSE 0 END))
                    AS BIGINT) AS w_stat_x2,
               SUM(rank2) = COUNT(*) * (COUNT(*) + 1) AS rank_sum_ok
        FROM rk
    """,
    description="Wilcoxon signed-rank test for PAIRED samples — the "
    "nonparametric before/after test (here: each customer's 1995-96 vs "
    "1997-98 spend) that the repo's Mann-Whitney-family lanes (Kruskal-"
    "Wallis, Mood) don't cover because those compare independent groups. "
    "Midranks over |d| ties are kept exact by doubling (2*min_rank + "
    "ties - 1), so W+ and W- are integers and their sum must equal "
    "n(n+1) — an identity the query asserts in-band. One aggregation to "
    "pairs (customer-grain, one shuffle) then a rank over the bounded "
    "pair set; cents are exact BIGINT so signs and ties are engine-"
    "identical.",
)
def stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = (dec("o_totalprice") * 100).cast("long")
    per = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.when(yr.between(1995, 1996), cents).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(yr.between(1997, 1998), cents).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(yr.between(1995, 1996), 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(yr.between(1997, 1998), 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    pairs = per.filter(
        (F.col("na") > 0) & (F.col("nb") > 0) & (F.col("a") != F.col("b"))
    ).select(
        (F.col("a") - F.col("b")).alias("d"),
        F.abs(F.col("a") - F.col("b")).alias("ad"),
    )
    rk = pairs.select(
        "d",
        (
            2 * F.rank().over(Window.orderBy("ad"))
            + F.count(F.lit(1)).over(Window.partitionBy("ad"))
            - 1
        ).alias("rank2"),
    )
    wp = F.sum(F.when(F.col("d") > 0, F.col("rank2")).otherwise(0))
    wm = F.sum(F.when(F.col("d") < 0, F.col("rank2")).otherwise(0))
    return rk.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        wp.cast("long").alias("w_plus_x2"),
        wm.cast("long").alias("w_minus_x2"),
        F.least(wp, wm).cast("long").alias("w_stat_x2"),
        (
            F.sum("rank2") == F.count(F.lit(1)) * (F.count(F.lit(1)) + 1)
        ).alias("rank_sum_ok"),
    )


# -------------------------------------- progressive tax brackets

_TAX_BRACKETS = [  # (upper bound cents, marginal rate permille)
    (10_000_000, 100),
    (20_000_000, 200),
    (40_000_000, 300),
]
_TAX_TOP_RATE = 400


def _tax_sql(cents: str) -> str:
    parts, lo = [], 0
    for hi, rate in _TAX_BRACKETS:
        parts.append(
            f"{rate} * LEAST(GREATEST({cents} - {lo}, 0), {hi - lo})"
        )
        lo = hi
    parts.append(f"{_TAX_TOP_RATE} * GREATEST({cents} - {lo}, 0)")
    return "(" + " + ".join(parts) + ") // 1000"


def _tax_spark(cents: str) -> str:
    parts, lo = [], 0
    for hi, rate in _TAX_BRACKETS:
        parts.append(
            f"{rate} * LEAST(GREATEST({cents} - {lo}, 0), {hi - lo})"
        )
        lo = hi
    parts.append(f"{_TAX_TOP_RATE} * GREATEST({cents} - {lo}, 0)")
    return "(" + " + ".join(parts) + ") div 1000"


@query(
    "finance_progressive_tax_brackets",
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders
        ), taxed AS (
            SELECT o_orderpriority, cents,
                   {_tax_sql("cents")} AS tax_cents
            FROM base
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST(SUM(tax_cents) AS BIGINT) AS total_tax_cents,
               CAST(CAST(SUM(tax_cents) AS HUGEINT) * 1000
                    // SUM(cents) AS BIGINT) AS eff_rate_permille
        FROM taxed GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="Progressive marginal-bracket schedule (the piecewise-"
    "linear pattern behind tax tables, tiered pricing, volume discounts "
    "and royalty schedules): per-order tax = sum over brackets of "
    "rate * clamp(amount - lower, 0, width), all integer cents with one "
    "trailing exact floor-div, so marginal vs effective rates are bit-"
    "exact. Pure map-side expression over one fact scan + a 5-group "
    "aggregate — the shape survives any scale unchanged. The effective-"
    "rate permille routes through DECIMAL(38)/HUGEINT because "
    "SUM(tax)*1000 overflows int64 at warehouse row counts.",
)
def finance_progressive_tax_brackets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        (dec("o_totalprice") * 100).cast("long").alias("cents"),
    )
    taxed = base.withColumn(
        "tax_cents", F.expr(_tax_spark("cents")).cast("long")
    )
    return (
        taxed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum("tax_cents").cast("long").alias("total_tax_cents"),
            F.expr(
                "CAST(CAST(SUM(tax_cents) AS DECIMAL(38,0)) * 1000 "
                "div SUM(cents) AS BIGINT)"
            ).alias("eff_rate_permille"),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------------------- EDF feasibility audit

_EDF_SLACK = {
    "1-URGENT": 7,
    "2-HIGH": 14,
    "3-MEDIUM": 21,
    "4-NOT SPECIFIED": 30,
}
_EDF_SLACK_DEFAULT = 45
_EDF_SERVICE_DIV = 20_000_000  # cents per service day


def _edf_slack_case(col: str) -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _EDF_SLACK.items()
    )
    return f"CASE {col} {cases} ELSE {_EDF_SLACK_DEFAULT} END"


@query(
    "sched_edf_feasibility_audit",
    oracle=f"""
        WITH jobs AS (
            SELECT c.c_nationkey AS nation,
                   o.o_orderkey,
                   datediff('day', DATE '1997-01-01',
                            CAST(o.o_orderdate AS DATE))
                       + {_edf_slack_case("o.o_orderpriority")} AS deadline,
                   CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
                       // {_EDF_SERVICE_DIV} + 1 AS service
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE year(CAST(o.o_orderdate AS DATE)) = 1997
        ), sched AS (
            SELECT nation, deadline, service,
                   SUM(service) OVER (PARTITION BY nation
                                      ORDER BY deadline, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS done_at
            FROM jobs
        )
        SELECT CAST(nation AS BIGINT) AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_jobs,
               CAST(SUM(CASE WHEN done_at > deadline THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late,
               CAST(MAX(done_at - deadline) AS BIGINT) AS max_lateness,
               MAX(done_at - deadline) <= 0 AS edf_feasible
        FROM sched GROUP BY nation ORDER BY nation
    """,
    description="Earliest-Deadline-First feasibility audit: for each "
    "nation's 1997 order book (integer service days from cents, "
    "priority-dependent deadlines), schedule by EDF and read lateness "
    "off the running total. Jackson's rule makes this exact: with a "
    "common release, EDF minimizes maximum lateness, so 'EDF infeasible' "
    "here means NO single-machine schedule meets all deadlines — a "
    "one-pass certificate, not a heuristic. The schedule is one window "
    "cumsum per nation (single shuffle, parallel across nations); the "
    "deterministic (deadline, orderkey) tiebreak keeps the replay "
    "engine-identical.",
)
def sched_edf_feasibility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    jobs = (
        orders.filter(F.year(F.col("o_orderdate").cast("date")) == 1997)
        .join(
            F.broadcast(customer), customer.c_custkey == orders.o_custkey
        )
        .select(
            F.col("c_nationkey").alias("nation"),
            "o_orderkey",
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1997-01-01").cast("date"),
                )
                + F.expr(_edf_slack_case("o_orderpriority"))
            ).alias("deadline"),
            F.expr(
                f"CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) "
                f"div {_EDF_SERVICE_DIV} + 1"
            ).alias("service"),
        )
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("deadline", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sched = jobs.withColumn("done_at", F.sum("service").over(w))
    return (
        sched.groupBy(F.col("nation").cast("long").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_jobs"),
            F.sum((F.col("done_at") > F.col("deadline")).cast("int"))
            .cast("long")
            .alias("n_late"),
            F.max(F.col("done_at") - F.col("deadline"))
            .cast("long")
            .alias("max_lateness"),
            (F.max(F.col("done_at") - F.col("deadline")) <= 0).alias(
                "edf_feasible"
            ),
        )
        .orderBy("nation")
    )


# ------------------------------------- two-choice load balancing

_TC_BINS = 64


@query(
    "dist_two_choice_load_audit",
    oracle=f"""
        WITH balls AS (
            SELECT event_id,
                   ({sql_hex4("'tc1:' || CAST(event_id AS VARCHAR)")})
                       % {_TC_BINS} AS h1,
                   ({sql_hex4("'tc2:' || CAST(event_id AS VARCHAR)")})
                       % {_TC_BINS} AS h2
            FROM events
        ), load1 AS (
            SELECT h1 AS bin, CAST(COUNT(*) AS BIGINT) AS c
            FROM balls GROUP BY 1
        ), choice AS (
            SELECT b.event_id,
                   CASE WHEN COALESCE(la.c, 0) < COALESCE(lb.c, 0)
                             OR (COALESCE(la.c, 0) = COALESCE(lb.c, 0)
                                 AND b.h1 <= b.h2)
                        THEN b.h1 ELSE b.h2 END AS bin
            FROM balls b
            LEFT JOIN load1 la ON la.bin = b.h1
            LEFT JOIN load1 lb ON lb.bin = b.h2
        ), final2 AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS c
            FROM choice GROUP BY 1
        ), stats AS (
            SELECT 'single_choice' AS strategy,
                   CAST(MAX(c) AS BIGINT) AS max_load,
                   CAST(MIN(c) AS BIGINT) AS min_load,
                   CAST(COUNT(*) AS BIGINT) AS bins_used,
                   CAST(SUM(c) AS BIGINT) AS n_balls
            FROM load1
            UNION ALL
            SELECT 'two_choice_static' AS strategy,
                   CAST(MAX(c) AS BIGINT), CAST(MIN(c) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT), CAST(SUM(c) AS BIGINT)
            FROM final2
        )
        SELECT * FROM stats ORDER BY strategy
    """,
    description="The HERDING failure of one-round power-of-two-choices "
    "— a load-balancing audit every shard planner should run before "
    "trusting a static re-placement. Each ball (event) draws two md5 "
    "bins and lands in the one with the smaller FIRST-ROUND load "
    "(deterministic h1 tiebreak). Sequential two-choice famously gives "
    "log-log-n max load, but it is inherently serial; the tempting "
    "distributed shortcut — one pass to count single-choice loads, one "
    "broadcast-join pass to re-place — REMOVES the feedback loop, so "
    "every ball flees to the same few globally-light bins and the max "
    "load roughly DOUBLES vs naive single hashing (measured 1639 -> "
    "3077 at sf0.1; the parallel balls-into-bins literature's known "
    "one-round lower bound in action). The audit quantifies that "
    "penalty exactly; the production lesson is to iterate rounds with "
    "re-counted loads or cap bin intake. Two fact passes + one 64-row "
    "broadcast; no sequential state.",
)
def dist_two_choice_load_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    balls = events.select(
        "event_id",
        (
            hex4(F.concat(F.lit("tc1:"), F.col("event_id").cast("string")))
            % _TC_BINS
        ).alias("h1"),
        (
            hex4(F.concat(F.lit("tc2:"), F.col("event_id").cast("string")))
            % _TC_BINS
        ).alias("h2"),
    )
    load1 = balls.groupBy(F.col("h1").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    la = load1.withColumnRenamed("bin", "h1").withColumnRenamed("c", "ca")
    lb = load1.withColumnRenamed("bin", "h2").withColumnRenamed("c", "cb")
    choice = (
        balls.join(F.broadcast(la), "h1", "left")
        .join(F.broadcast(lb), "h2", "left")
        .select(
            F.when(
                (F.coalesce("ca", F.lit(0)) < F.coalesce("cb", F.lit(0)))
                | (
                    (F.coalesce("ca", F.lit(0)) == F.coalesce("cb", F.lit(0)))
                    & (F.col("h1") <= F.col("h2"))
                ),
                F.col("h1"),
            )
            .otherwise(F.col("h2"))
            .alias("bin")
        )
    )
    final2 = choice.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )

    def stats(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.max("c").cast("long").alias("max_load"),
            F.min("c").cast("long").alias("min_load"),
            F.count(F.lit(1)).cast("long").alias("bins_used"),
            F.sum("c").cast("long").alias("n_balls"),
        ).select(F.lit(name).alias("strategy"), "*")

    return (
        stats(load1, "single_choice")
        .unionByName(stats(final2, "two_choice_static"))
        .orderBy("strategy")
    )


# --------------------------------------------- pass@k estimator

_PAK_N = 20


def _binom(n: int, k: int) -> int:
    from math import comb

    return comb(n, k) if 0 <= k <= n else 0


def _pak_case(k: int) -> str:
    """CASE c -> pass@k permille (exact integer floor)."""
    cn = _binom(_PAK_N, k)
    cases = " ".join(
        f"WHEN {c} THEN {1000 * (cn - _binom(_PAK_N - c, k)) // cn}"
        for c in range(_PAK_N + 1)
    )
    return f"CASE c {cases} END"


@query(
    "eval_pass_at_k_estimator",
    oracle=f"""
        WITH attempts AS (
            SELECT l_partkey AS task,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_partkey
                       ORDER BY l_orderkey, l_linenumber, l_extendedprice,
                                l_quantity, l_suppkey) AS attempt,
                   CASE WHEN ({sql_hex4(
                "'pk:' || CAST(l_orderkey AS VARCHAR) || ':' || "
                "CAST(l_linenumber AS VARCHAR) || ':' || "
                "CAST(l_partkey AS VARCHAR)"
            )}) % 4 = 0 THEN 1 ELSE 0 END AS pass
            FROM lineitem
        ), tasks AS (
            SELECT task, CAST(SUM(pass) AS BIGINT) AS c
            FROM attempts WHERE attempt <= {_PAK_N}
            GROUP BY task HAVING COUNT(*) = {_PAK_N}
        )
        SELECT c,
               CAST(COUNT(*) AS BIGINT) AS n_tasks,
               CAST({_pak_case(1)} AS BIGINT) AS pass_at_1_permille,
               CAST({_pak_case(5)} AS BIGINT) AS pass_at_5_permille,
               CAST({_pak_case(10)} AS BIGINT) AS pass_at_10_permille
        FROM tasks GROUP BY c ORDER BY c
    """,
    description="The unbiased pass@k estimator from the HumanEval/Codex "
    "methodology: per task (part), n=20 attempts with md5-derived "
    "outcomes, c passes; pass@k = 1 - C(n-c,k)/C(n,k) computed EXACTLY "
    "as integer permille through a precomputed binomial CASE ladder "
    "(C(20,k) literals — no floats, no libm, identical text in both "
    "engines). This is the eval-pipeline aggregation every LLM training "
    "run reports; the naive 1-(1-c/n)^k estimator is biased, which is "
    "why the combinatorial form matters. One window pass caps attempts "
    "per task (parallel by task key), one group-by; output is the 21-row "
    "c-histogram so the result is schema-stable at any SF.",
)
def eval_pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity",
        "l_suppkey",
    )
    attempts = line.select(
        F.col("l_partkey").alias("task"),
        F.row_number().over(w).alias("attempt"),
        F.when(
            hex4(
                F.concat(
                    F.lit("pk:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                    F.lit(":"),
                    F.col("l_partkey").cast("string"),
                )
            )
            % 4
            == 0,
            1,
        )
        .otherwise(0)
        .alias("pass"),
    )
    tasks = (
        attempts.filter(F.col("attempt") <= _PAK_N)
        .groupBy("task")
        .agg(
            F.sum("pass").cast("long").alias("c"),
            F.count(F.lit(1)).alias("n_att"),
        )
        .filter(F.col("n_att") == _PAK_N)
    )
    return (
        tasks.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tasks"))
        .select(
            "c",
            "n_tasks",
            F.expr(f"CAST({_pak_case(1)} AS BIGINT)").alias(
                "pass_at_1_permille"
            ),
            F.expr(f"CAST({_pak_case(5)} AS BIGINT)").alias(
                "pass_at_5_permille"
            ),
            F.expr(f"CAST({_pak_case(10)} AS BIGINT)").alias(
                "pass_at_10_permille"
            ),
        )
        .orderBy("c")
    )


# -------------------------------- resource-allocation link prediction


@query(
    "graph_resource_allocation_linkpred",
    oracle="""
        WITH trade AS (
            SELECT least(c.c_nationkey, s.s_nationkey) AS u,
                   greatest(c.c_nationkey, s.s_nationkey) AS v,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        ), st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(w) AS BIGINT) AS tot
            FROM trade
        ), heavy AS (
            SELECT u, v FROM trade CROSS JOIN st
            WHERE w * cnt * 2 >= 3 * tot
        ), edges AS MATERIALIZED (
            SELECT u, v FROM heavy
            UNION ALL SELECT v AS u, u AS v FROM heavy
        ), deg AS (
            SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY u
        ), wedge AS (
            SELECT a.u AS x, b.v AS y,
                   CAST(COUNT(*) AS BIGINT) AS common,
                   CAST(SUM(1000000 // dz.d) AS BIGINT) AS ra_micro
            FROM edges a
            JOIN edges b ON b.u = a.v
            JOIN deg dz ON dz.node = a.v
            WHERE a.u < b.v
            GROUP BY 1, 2
        )
        SELECT w.x AS u, w.y AS v, w.common, w.ra_micro
        FROM wedge w
        WHERE NOT EXISTS (SELECT 1 FROM heavy h
                          WHERE h.u = w.x AND h.v = w.y)
          AND w.common >= 2
        ORDER BY ra_micro DESC, u, v
    """,
    description="Resource-Allocation link prediction (Zhou-Lu-Zhang) on "
    "the same heavy-trade nation graph as the Jaccard lane: score(x,y) = "
    "sum over common neighbors z of 1/deg(z), which down-weights hub "
    "intermediaries — RA beats Jaccard/Adamic-Adar on most benchmark "
    "graphs precisely because a common neighbor that trades with "
    "everyone carries no signal. 1/deg is kept exact as micro-units via "
    "integer floor division (no libm log, unlike Adamic-Adar — that's "
    "why RA is the portable member of the family). The middle-vertex "
    "degree joins INSIDE the wedge aggregation (vs Jaccard's inclusion-"
    "exclusion afterwards); fact-scale work is the q7 trade aggregation, "
    "the wedge join runs on a bounded <=300-row edge list.",
)
def graph_resource_allocation_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cn, sn = F.col("c_nationkey"), F.col("s_nationkey")
    trade = (
        line.join(orders, orders.o_orderkey == line.l_orderkey)
        .join(F.broadcast(customer), customer.c_custkey == orders.o_custkey)
        .join(F.broadcast(supplier), supplier.s_suppkey == line.l_suppkey)
        .where(cn != sn)
        .groupBy(F.least(cn, sn).alias("u"), F.greatest(cn, sn).alias("v"))
        .agg(
            F.sum(dec("l_extendedprice") * 100).cast("long").alias("w")
        )
    )
    st = trade.agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("w").cast("long").alias("tot"),
    )
    heavy = (
        trade.crossJoin(F.broadcast(st))
        .where(F.col("w") * F.col("cnt") * 2 >= 3 * F.col("tot"))
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    edges = heavy.unionByName(
        heavy.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a = edges.select(F.col("u").alias("x"), F.col("v").alias("z"))
    b = edges.select(F.col("u").alias("z2"), F.col("v").alias("y"))
    wedge = (
        a.join(b, a.z == b.z2)
        .join(F.broadcast(deg), F.col("z") == F.col("node"))
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("ra_micro"),
        )
    )
    return (
        wedge.join(
            heavy,
            (wedge.x == heavy.u) & (wedge.y == heavy.v),
            "left_anti",
        )
        .where(F.col("common") >= 2)
        .select(
            F.col("x").alias("u"),
            F.col("y").alias("v"),
            "common",
            "ra_micro",
        )
        .orderBy(F.desc("ra_micro"), "u", "v")
    )


# ------------------------------------- missingness pattern mining

_MISS_COLS = ("ship_ref", "contact", "promo_code", "channel")


def _hex4_spark_sql(expr: str) -> str:
    """Spark SQL: same 16-bit md5 draw as ``sql_hex4`` (conv-based)."""
    return f"CAST(conv(substring(md5({expr}), 1, 4), 16, 10) AS BIGINT)"


def _miss_sql(okey: str, spark_dialect: bool = False) -> dict[str, str]:
    """Planted co-missingness masks: contact co-misses with ship_ref."""
    draw = _hex4_spark_sql if spark_dialect else sql_hex4
    key_str = f"CAST({okey} AS {'STRING' if spark_dialect else 'VARCHAR'})"
    h0, h1, h2, h3, h4 = (
        draw(f"'m{i}:' || " + key_str) for i in range(5)
    )
    base = f"({h0}) % 100"
    return {
        "ship_ref": f"({base} < 20)",
        "contact": (
            f"(({base} < 20 AND ({h1}) % 100 < 60)"
            f" OR ({h2}) % 100 < 8)"
        ),
        "promo_code": f"(({h3}) % 100 < 15)",
        "channel": f"(({h4}) % 100 < 10)",
    }


@query(
    "dq_missingness_pattern_mining",
    oracle=f"""
        WITH masks AS (
            SELECT {", ".join(
                f"CASE WHEN {expr} THEN 1 ELSE 0 END AS miss_{c}"
                for c, expr in _miss_sql("o_orderkey").items()
            )}
            FROM orders
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {", ".join(
                f"CAST(SUM(miss_{c}) AS BIGINT) AS n_{c}"
                for c in _MISS_COLS
            )},
                   {", ".join(
                f"CAST(SUM(miss_{a} * miss_{b}) AS BIGINT) AS n_{a}_{b}"
                for i, a in enumerate(_MISS_COLS)
                for b in _MISS_COLS[i + 1:]
            )}
            FROM masks
        )
        SELECT col_a, col_b, n_a, n_b, n_both, lift_permille,
               lift_permille >= 1500 AS flagged
        FROM (
            {" UNION ALL ".join(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, n_{a} AS n_a, "
                f"n_{b} AS n_b, n_{a}_{b} AS n_both, "
                f"CAST(CAST(n_{a}_{b} AS HUGEINT) * n * 1000 "
                f"// (n_{a} * n_{b}) AS BIGINT) AS lift_permille FROM agg"
                for i, a in enumerate(_MISS_COLS)
                for b in _MISS_COLS[i + 1:]
            )}
        ) ORDER BY col_a, col_b
    """,
    description="Missingness-pattern mining — the data-quality step that "
    "finds STRUCTURALLY co-missing fields (a broken upstream join, a "
    "form section users skip together) by computing the lift "
    "P(miss A & miss B) / (P(A)P(B)) for every column pair. Four masked "
    "fields are planted on orders with one genuinely correlated pair "
    "(contact co-misses with ship_ref at ~3x lift) and two independent "
    "decoys, so the miner must flag exactly one pair at the 1.5x "
    "threshold. All six pairwise co-counts come from ONE aggregation "
    "over one fact scan (no self-join — pairwise sums of indicator "
    "products), then a 6-row literal unpivot; lift is exact permille via "
    "HUGEINT cross-multiplication. At 100 TB this stays a single "
    "map-side pass regardless of column count squared, because the "
    "pair explosion happens on the 1-row aggregate.",
)
def dq_missingness_pattern_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    masks = orders.select(
        *[
            F.expr(f"CASE WHEN {expr} THEN 1 ELSE 0 END").alias(f"miss_{c}")
            for c, expr in _miss_sql("o_orderkey", spark_dialect=True).items()
        ]
    )
    pair_aggs = [
        F.sum(F.col(f"miss_{a}") * F.col(f"miss_{b}"))
        .cast("long")
        .alias(f"n_{a}_{b}")
        for i, a in enumerate(_MISS_COLS)
        for b in _MISS_COLS[i + 1 :]
    ]
    agg = masks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(f"miss_{c}").cast("long").alias(f"n_{c}")
            for c in _MISS_COLS
        ],
        *pair_aggs,
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', n_{a}, n_{b}, n_{a}_{b}"
        for i, a in enumerate(_MISS_COLS)
        for b in _MISS_COLS[i + 1 :]
    )
    pairs = agg.select(
        "n",
        F.expr(
            f"stack(6, {stack_args}) AS (col_a, col_b, n_a, n_b, n_both)"
        ),
    )
    return pairs.select(
        "col_a",
        "col_b",
        "n_a",
        "n_b",
        "n_both",
        F.expr(
            "CAST(CAST(n_both AS DECIMAL(38,0)) * n * 1000 "
            "div (n_a * n_b) AS BIGINT)"
        ).alias("lift_permille"),
        (
            F.expr(
                "CAST(CAST(n_both AS DECIMAL(38,0)) * n * 1000 "
                "div (n_a * n_b) AS BIGINT)"
            )
            >= 1500
        ).alias("flagged"),
    ).orderBy("col_a", "col_b")
