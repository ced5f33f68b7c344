"""Wave-144 (round 5): apportionment methods + DAG critical path.

* ``alloc_apportionment_methods`` — allocating a fixed audit budget of
  K=1000 sample slots across nations proportional to their order
  volume, by the two classic apportionment schemes: Hamilton
  (largest-remainder — integer floor quotas, the K - sum(floors)
  leftover slots to the largest remainders) and D'Hondt
  (highest-averages — rank the 25xK quotient table c_i/d).  Both are
  exact-integer: the Hamilton remainder is the modular numerator
  K*c_i mod C, and the D'Hondt quotient order is decided on
  (c_i * 10^12) div d — for integer counts two distinct quotients
  differ by at least 1/K^2, so the 10^12 scaling is order-exact and
  genuine ties break deterministically by nation name.  The emitted
  divergence column shows D'Hondt's documented large-stratum bias on
  real data.
* ``graph_dag_critical_path`` — critical-path analysis over a planted
  layered DAG (the shape of an ETL stage graph): suppliers become
  nodes with layer = s_suppkey mod 6 and dense per-layer indices,
  node weights from the md5 nibble ladder, out-edges
  (l, i) -> (l+1, (7i + c) mod W_{l+1}) for c in 0..2 (first-
  occurrence-deduped when the next layer is narrower than 3).  The
  Spark side runs the longest-path DP with critical-path
  MULTIPLICITY counting (cnt(v) = sum of cnt(u) over argmax
  predecessors) in 5 unrolled relaxation rounds over bounded
  per-layer tables; the oracle ENUMERATES every root-to-node path
  with a recursive CTE (MATERIALIZED node/count sources, per the
  re-inlining trap) and takes max/count per terminal node — the hash
  match proves the DP's argmax-set bookkeeping exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------------ apportionment

_K_SLOTS = 1000


@query(
    "alloc_apportionment_methods",
    oracle=f"""
        WITH counts AS MATERIALIZED (
            SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS c
            FROM orders o
            JOIN customer cu ON cu.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = cu.c_nationkey
            GROUP BY n.n_name
        ), tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS ctot FROM counts
        ), ham0 AS (
            SELECT n_name, c,
                   ({_K_SLOTS} * c) // ctot AS fl,
                   ({_K_SLOTS} * c) % ctot AS rem
            FROM counts, tot
        ), leftover AS (
            SELECT {_K_SLOTS} - CAST(SUM(fl) AS BIGINT) AS lo FROM ham0
        ), ham AS (
            SELECT n_name, c,
                   CAST(fl + CASE WHEN ROW_NUMBER() OVER (
                            ORDER BY rem DESC, n_name) <= lo
                        THEN 1 ELSE 0 END AS BIGINT) AS hamilton_seats
            FROM ham0, leftover
        ), quot AS (
            SELECT n_name,
                   ROW_NUMBER() OVER (
                       ORDER BY (c * 1000000000000) // d.d DESC,
                                n_name, d.d) AS rn
            FROM counts,
                 (SELECT UNNEST(generate_series(1, {_K_SLOTS})) AS d) d
        ), dh AS (
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS dhondt_seats
            FROM quot WHERE rn <= {_K_SLOTS} GROUP BY n_name
        )
        SELECT h.n_name, h.c AS n_orders,
               CAST(({_K_SLOTS} * h.c * 1000) // t.ctot AS BIGINT)
                   AS quota_millis,
               h.hamilton_seats,
               CAST(COALESCE(d.dhondt_seats, 0) AS BIGINT)
                   AS dhondt_seats,
               CAST(COALESCE(d.dhondt_seats, 0) - h.hamilton_seats
                    AS BIGINT) AS dhondt_minus_hamilton
        FROM ham h LEFT JOIN dh d ON d.n_name = h.n_name
        CROSS JOIN tot t
        ORDER BY h.n_name
    """,
    description="Apportionment bake-off for a fixed audit budget of "
    "K=1000 sample slots across nations proportional to order "
    "volume: Hamilton largest-remainder (integer floor quotas, "
    "leftover slots to the largest modular remainders K*c mod C, "
    "name-ordered ties) vs D'Hondt highest-averages (rank the 25xK "
    "quotient table; (c * 10^12) div d is order-exact for integer "
    "counts since distinct quotients differ by >= 1/K^2). The "
    "divergence column exhibits D'Hondt's documented large-stratum "
    "bias on real data — the thing to know before picking a sampling "
    "allocator. 100 TB shape: ONE data-scale aggregation (orders x "
    "customer x broadcast nation), then all apportionment runs on "
    "the bounded 25-row stratum table and a bounded 25xK quotient "
    "spine.",
)
def alloc_apportionment_methods(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (
        orders.join(
            customer, customer.c_custkey == orders.o_custkey
        )
        .join(
            F.broadcast(nation),
            nation.n_nationkey == customer.c_nationkey,
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # 25-row stratum table, reused 3x
    )
    tot = counts.agg(F.sum("c").cast("long").alias("ctot"))
    ham0 = counts.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "c",
        F.expr(f"({_K_SLOTS} * c) div ctot").alias("fl"),
        F.expr(f"({_K_SLOTS} * c) % ctot").alias("rem"),
        "ctot",
    )
    leftover = ham0.agg(
        (F.lit(_K_SLOTS) - F.sum("fl")).cast("long").alias("lo")
    )
    w_rem = Window.orderBy(F.desc("rem"), F.asc("n_name"))
    ham = (
        ham0.crossJoin(F.broadcast(leftover))
        .withColumn("rn", F.row_number().over(w_rem))
        .select(
            "n_name",
            "c",
            "ctot",
            (
                F.col("fl")
                + F.when(F.col("rn") <= F.col("lo"), 1).otherwise(0)
            )
            .cast("long")
            .alias("hamilton_seats"),
        )
    )
    quot = counts.select(
        "n_name",
        F.explode(F.sequence(F.lit(1), F.lit(_K_SLOTS))).alias("d"),
        "c",
    ).select(
        "n_name",
        "d",
        F.expr("(c * 1000000000000) div d").alias("q_scaled"),
    )
    w_q = Window.orderBy(
        F.desc("q_scaled"), F.asc("n_name"), F.asc("d")
    )
    dh = (
        quot.withColumn("rn", F.row_number().over(w_q))
        .where(F.col("rn") <= _K_SLOTS)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("dhondt_seats"))
    )
    return (
        ham.join(F.broadcast(dh), "n_name", "left")
        .select(
            "n_name",
            F.col("c").alias("n_orders"),
            F.expr(f"({_K_SLOTS} * c * 1000) div ctot")
            .cast("long")
            .alias("quota_millis"),
            "hamilton_seats",
            F.coalesce("dhondt_seats", F.lit(0))
            .cast("long")
            .alias("dhondt_seats"),
            (
                F.coalesce("dhondt_seats", F.lit(0))
                - F.col("hamilton_seats")
            )
            .cast("long")
            .alias("dhondt_minus_hamilton"),
        )
        .orderBy("n_name")
    )


# ------------------------------------------------ DAG critical path

_CP_LAYERS = 6
_CP_MULT = 7
_CP_WMOD = 1000


@query(
    "graph_dag_critical_path",
    oracle=f"""
        WITH RECURSIVE nodes AS MATERIALIZED (
            SELECT s_suppkey % {_CP_LAYERS} AS l,
                   ROW_NUMBER() OVER (
                       PARTITION BY s_suppkey % {_CP_LAYERS}
                       ORDER BY s_suppkey) - 1 AS i,
                   ({sql_hex4(
                       "'cp:' || CAST(s_suppkey AS VARCHAR)"
                   )}) % {_CP_WMOD} AS w,
                   s_suppkey
            FROM supplier
        ), cnts AS MATERIALIZED (
            SELECT l, CAST(COUNT(*) AS BIGINT) AS wc
            FROM nodes GROUP BY l
        ), paths AS (
            SELECT l, i, CAST(w AS BIGINT) AS total
            FROM nodes WHERE l = 0
            UNION ALL
            SELECT n.l, n.i, p.total + n.w
            FROM paths p
            JOIN cnts ct ON ct.l = p.l + 1
            JOIN (VALUES (0), (1), (2)) c(c) ON TRUE
            JOIN nodes n
              ON n.l = p.l + 1
                 AND n.i = (p.i * {_CP_MULT} + c.c) % ct.wc
            WHERE p.l < {_CP_LAYERS - 1}
              AND (c.c = 0
                   OR (c.c = 1
                       AND (p.i * {_CP_MULT} + 1) % ct.wc
                           != (p.i * {_CP_MULT}) % ct.wc)
                   OR (c.c = 2
                       AND (p.i * {_CP_MULT} + 2) % ct.wc
                           != (p.i * {_CP_MULT}) % ct.wc
                       AND (p.i * {_CP_MULT} + 2) % ct.wc
                           != (p.i * {_CP_MULT} + 1) % ct.wc))
        ), pf AS (
            SELECT i, total FROM paths
            WHERE l = {_CP_LAYERS - 1}
        ), mx AS (
            SELECT i, MAX(total) AS longest FROM pf GROUP BY i
        )
        SELECT n.s_suppkey,
               CAST(m.i AS BIGINT) AS node_index,
               CAST(m.longest AS BIGINT) AS longest_total,
               CAST(COUNT(*) AS BIGINT) AS n_critical_paths
        FROM pf
        JOIN mx m ON pf.i = m.i AND pf.total = m.longest
        JOIN nodes n ON n.l = {_CP_LAYERS - 1} AND n.i = m.i
        GROUP BY n.s_suppkey, m.i, m.longest
        ORDER BY node_index
    """,
    description="Critical-path analysis over a planted layered DAG "
    "(the ETL stage-dependency shape that determines pipeline wall-"
    "clock): suppliers become nodes (layer = key mod 6, dense per-"
    "layer index, md5-nibble weights), out-edges (l,i) -> (l+1, "
    "(7i+c) mod W) for c in 0..2 with first-occurrence dedup when a "
    "layer is narrower than 3. Spark runs the longest-path DP with "
    "critical-path MULTIPLICITY (cnt(v) = sum of cnt(u) over argmax "
    "predecessors) in 5 unrolled relaxation rounds; the oracle "
    "enumerates every root-to-node path with a recursive CTE over "
    "MATERIALIZED sources and takes max/count per terminal — the "
    "hash match proves the DP's argmax-set bookkeeping exact. "
    "100 TB shape: the DAG lives on the supplier DIMENSION (bounded "
    "per-layer tables), each round is one bounded join + one "
    "bounded aggregation, and rounds — not data — set the depth; "
    "the same DP shape runs on a billion-edge layered DAG with the "
    "per-layer joins as ordinary co-partitioned shuffles.",
)
def graph_dag_critical_path(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    w_layer = Window.partitionBy("l").orderBy("s_suppkey")
    nodes = (
        supplier.select(
            "s_suppkey",
            (F.col("s_suppkey") % _CP_LAYERS).alias("l"),
        )
        .withColumn("i", F.row_number().over(w_layer) - 1)
        .withColumn(
            "w",
            (
                hex4(F.concat(F.lit("cp:"), F.col("s_suppkey").cast("string")))
                % _CP_WMOD
            ),
        )
        .localCheckpoint(eager=False)  # dimension-sized, reused 7x
    )
    # Layer widths via ONE bounded collect (_CP_LAYERS rows — layer
    # count is a query constant, not data-sized): the r11 form
    # broadcast a 1-row `wc` relation per level, which AQE executed
    # as a separate broadcast-exchange job each level. Literal widths
    # keep the unrolled plan free of those 5 subquery jobs.
    widths = {
        r["l"]: int(r["wc"])
        for r in nodes.groupBy("l")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
        .collect()
    }
    cur = nodes.where(F.col("l") == 0).select(
        "i",
        F.col("w").cast("long").alias("total"),
        F.lit(1).cast("long").alias("cnt"),
    )
    for lvl in range(_CP_LAYERS - 1):
        # An empty layer has no row in `widths` and no node for the
        # join below to match, so every path stops there and the result
        # is empty. A stand-in width of 1 keeps the modulo defined.
        wc = F.lit(widths.get(lvl + 1, 1)).cast("long")
        cand = (
            cur.select(
                F.explode(
                    F.array_distinct(
                        F.array(
                            *[
                                (F.col("i") * _CP_MULT + c) % wc
                                for c in range(3)
                            ]
                        )
                    )
                ).alias("t"),
                "total",
                "cnt",
            )
        )
        # r12: the per-level argmax as ONE window over t (max(total)
        # riding the same partitioning the groupBy reuses) instead of
        # a separate groupBy + broadcast-join back — `cand` is now
        # referenced exactly ONCE per level, so the 6-level unroll is
        # a LINEAR plan (the r11 form referenced cand twice, grew 3^k,
        # and needed an eager checkpoint per level: ~40 Spark jobs of
        # driver round trips for dimension-sized relations). With the
        # plan linear, no per-level checkpoint is needed at all — the
        # whole DP executes as one action. Same DP, same argmax
        # bookkeeping: rows at the per-t max, sum of their counts.
        wt = Window.partitionBy("t")
        agg = (
            cand.withColumn("mt", F.max("total").over(wt))
            .where(F.col("total") == F.col("mt"))
            .groupBy("t")
            .agg(
                F.max("total").alias("ptotal"),
                F.sum("cnt").cast("long").alias("cnt"),
            )
        )
        nxt = nodes.where(F.col("l") == lvl + 1)
        cur = agg.join(nxt, agg.t == nxt.i).select(
            "i",
            (F.col("ptotal") + F.col("w")).cast("long").alias("total"),
            "cnt",
        )
    final_nodes = nodes.where(F.col("l") == _CP_LAYERS - 1)
    return (
        cur.join(final_nodes, "i")
        .select(
            "s_suppkey",
            F.col("i").cast("long").alias("node_index"),
            F.col("total").alias("longest_total"),
            F.col("cnt").alias("n_critical_paths"),
        )
        .orderBy("node_index")
    )
