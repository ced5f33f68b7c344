"""Wave-96 (round 5): bounded-hop shortest paths + audience overlap.

* ``graph_sssp_khop_cheapest`` — single-source cheapest paths with a
  hop budget (Bellman-Ford, exactly 6 relaxation rounds) from each
  nation's minimum supplier over the bounded co-supply graph with
  md5 edge weights: the bounded-hop variant is the one that ships
  at scale — relaxation rounds are a FIXED constant (the hop
  budget), so the plan is 6 join+min rounds with no convergence
  polling, sidestepping the diameter-bound trap that makes
  unbounded SSSP a driver-latency grinder (the Boruvka lesson
  applied at design time). The oracle replays reachability with a
  hop-bounded recursive CTE and takes per-node minima.
* ``audience_overlap_matrix`` — the exact audience-overlap matrix:
  for every unordered pair of event types, the Jaccard overlap of
  their user sets in integer permille — the 'do clickers also
  purchase' report behind segmentation and campaign targeting,
  computed from ONE distinct (user, type) pass with a self-join on
  user (5-type domain, bounded x25 fan-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

# ------------------------------------------- bounded-hop SSSP

_SSSP_PART_CAP = 400  # same bounded co-supply graph as MST/triangles
_SSSP_HOPS = 6


@query(
    "graph_sssp_khop_cheapest",
    oracle=f"""
        WITH RECURSIVE co AS (
            SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                   greatest(a.l_suppkey, b.l_suppkey) AS v
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_partkey < {_SSSP_PART_CAP}) a
            JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_partkey < {_SSSP_PART_CAP}) b
              ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        ), wedges AS (
            SELECT u, v,
                   CAST({sql_hex4(
                       "'e:' || CAST(u AS VARCHAR) || ':' "
                       "|| CAST(v AS VARCHAR)")} AS BIGINT) AS w
            FROM co
        ), edges AS (
            SELECT u AS a, v AS b, w FROM wedges
            UNION ALL SELECT v AS a, u AS b, w FROM wedges
        ), nsup AS (
            SELECT s_suppkey AS sk, s_nationkey AS na FROM supplier
        ), sources AS (
            SELECT na, MIN(sk) AS src FROM nsup GROUP BY na
        ), d0 AS (
            SELECT na, src AS node, CAST(0 AS BIGINT) AS dist FROM sources
        ), {", ".join(
            f'''d{k + 1} AS (
            SELECT na, node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
                SELECT na, node, dist FROM d{k}
                UNION ALL
                SELECT d.na, e.b AS node, d.dist + e.w AS dist
                FROM d{k} d JOIN edges e ON e.a = d.node
            ) GROUP BY na, node
        )''' for k in range(_SSSP_HOPS)
        )}, best AS (
            SELECT na, node, dist FROM d{_SSSP_HOPS}
        )
        SELECT b.na AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(SUM(b.dist) AS BIGINT) AS sum_dist,
               CAST(MAX(b.dist) AS BIGINT) AS max_dist
        FROM best b JOIN nsup n ON n.sk = b.node AND n.na = b.na
        GROUP BY b.na
        ORDER BY b.na
    """,
    description="Bounded-hop single-source cheapest paths (Bellman-"
    "Ford, exactly 6 relaxation rounds) from each nation's minimum "
    "supplier over the bounded co-supply graph with md5 edge "
    "weights: the hop budget makes the round count a CONSTANT, so "
    "execution is 6 relax-join + min-aggregate rounds with no "
    "convergence polling — the design-time fix for the diameter-"
    "bound trap that turns unbounded iterative graph ops into "
    "driver-latency grinders. Reached nodes are constrained to the "
    "source's nation (labels ride the distance tuples). The oracle "
    "replays the same six Bellman-Ford steps as UNROLLED chained "
    "CTEs with per-hop minima (walk enumeration would explode on a "
    "dense co-supply graph; the DP is the honest replay). At 100 "
    "TB: each round shuffles (node, dist) "
    "tuples on the join key; bounded degree bounds the relax "
    "fan-out; zero-weight self-loops on every node carry the 'keep "
    "current distance' branch through the relax join, so each round "
    "is ONE join + ONE aggregate referencing the frontier once, and "
    "an eager per-round checkpoint keeps plan and RDD DAG flat.",
)
def graph_sssp_khop_cheapest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < _SSSP_PART_CAP)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
    )
    wedges = co.select(
        "u",
        "v",
        hex4(
            F.concat_ws(
                ":", F.lit("e"), F.col("u").cast("string"), F.col("v").cast("string")
            )
        ).alias("w"),
    )
    nsup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("na")
    )
    # Zero-weight SELF-LOOPS on every supplier node replace the
    # per-round `unionByName(dist)` "keep current distance" branch:
    # min(dist + 0) == dist, so one join+aggregate per round
    # references `dist` exactly ONCE and the whole 6-round unroll is a
    # linear plan executed in a single action. The r5 form referenced
    # dist twice per round and needed a localCheckpoint(eager=False)
    # each round to stop 2^6 plan growth — and each of those calls
    # forced a full driver-side physical-planning pass over a growing
    # RDD DAG (measured 0.6-2.1s/round at sf0.1, ~8s of the query's
    # 8.5s steady state; r11 profile). Same integer arithmetic, same
    # result hash; the oracle's per-hop `UNION ALL d{k}` branch is
    # exactly this self-loop in CTE form.
    edges = (
        wedges.select(F.col("u").alias("a"), F.col("v").alias("b"), "w")
        .unionByName(
            wedges.select(F.col("v").alias("a"), F.col("u").alias("b"), "w")
        )
        .unionByName(
            nsup.select(
                F.col("sk").alias("a"),
                F.col("sk").alias("b"),
                F.lit(0).cast("long").alias("w"),
            )
        )
        # r12: partition + sort by the join key before materializing.
        # localCheckpoint under AQE does NOT carry partitioning
        # metadata into the LogicalRDD (verified: the relax joins
        # still plan an Exchange over the RDD scan), but the
        # materialized blocks being evenly sized and pre-sorted by
        # `a` makes each round's edge-side exchange + sort cheap
        # (sorted runs; measured 4.3s vs 5.6s warm for the 6-round
        # loop without it).
        .repartition(F.col("a"))
        .sortWithinPartitions("a")
        .localCheckpoint(eager=True)  # relaxed against every round
    )
    dist = nsup.groupBy("na").agg(F.min("sk").alias("node")).select(
        "na", "node", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(_SSSP_HOPS):
        # no broadcast hint on edges: the co-supply edge set grows
        # with per-part supplier counts (measured 5% win at sf0.1,
        # not worth pinning a build side that AQE should size at
        # runtime — a forced broadcast is the 100x footgun here)
        dist = (
            dist.join(edges, dist.node == edges.a)
            .groupBy("na", F.col("b").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
            # r12: NO per-round checkpoint. With the self-loop form the
            # frontier is referenced exactly once per round, so the
            # 6-round unroll is a LINEAR plan (one join + one agg per
            # round) planned once and executed as a single action —
            # the r11 eager checkpoints cost 6 materialization round
            # trips (~38 Spark jobs with AQE) for bounded per-round
            # relations. (The r5 problem was the DOUBLE reference +
            # lazy checkpoint, which grew the DAG 2^rounds.)
        )
    members = nsup.select(
        F.col("sk").alias("m_sk"), F.col("na").alias("m_na")
    )
    best = dist.join(
        members,
        (F.col("node") == F.col("m_sk")) & (F.col("na") == F.col("m_na")),
        "left_semi",
    )
    return (
        best.groupBy(F.col("na").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.max("dist").cast("long").alias("max_dist"),
        )
        .orderBy("nationkey")
    )


# ------------------------------------------- audience overlap matrix


@query(
    "audience_overlap_matrix",
    oracle="""
        WITH au AS (
            SELECT DISTINCT event_type, user_id FROM events
        ), sizes AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM au GROUP BY event_type
        ), inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM au a JOIN au b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b,
               sa.n AS n_a, sb.n AS n_b, i.n_both,
               CAST((i.n_both * 1000) // (sa.n + sb.n - i.n_both)
                    AS BIGINT) AS jaccard_permille
        FROM inter i
        JOIN sizes sa ON sa.event_type = i.type_a
        JOIN sizes sb ON sb.event_type = i.type_b
        ORDER BY i.type_a, i.type_b
    """,
    description="Exact audience-overlap matrix: for every unordered "
    "pair of event types, the Jaccard overlap of their user sets in "
    "integer permille — the 'do clickers also purchase' report "
    "behind segmentation and campaign targeting, and the exact "
    "companion to the repo's theta-sketch set algebra. Scale: one "
    "distinct (user, type) pass (map-side combined), then a self-"
    "join on user_id whose fan-out is bounded by the TYPE domain "
    "(<= 5 rows per user per side), never by user count; the "
    "matrix is type-pair-sized.",
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    au = events.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )  # feeds sizes and the pair join
    sizes = au.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = au.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("ua")
    )
    b = au.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("ub")
    )
    inter = (
        a.join(
            b,
            (F.col("ua") == F.col("ub"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr("(n_both * 1000) div (n_a + n_b - n_both)")
            .cast("long")
            .alias("jaccard_permille"),
        )
        .orderBy("type_a", "type_b")
    )
