"""Wave-75 (round 5): distributed minimum spanning forest.

``graph_mst_boruvka`` — Boruvka's algorithm, THE distributed MST
scheme (each round every component picks its minimum outgoing edge,
components merge, O(log n) rounds): run over bounded-degree supplier
graphs (per nation, each supplier linked to the next two by key, md5
edge weights totally ordered by (weight, endpoints) — making the MSF
unique even under weight ties, since both algorithms share that
lexicographic order).
Each round is one edge-relabel join + one per-component min (a
lexicographic struct-min — weight first), with merges resolved by
star-hooking (hook to the minimum pick-neighbor, one pointer jump) —
partial contraction is safe by the cut property, so no inner
connected-components loop runs per round. The DuckDB
oracle runs KRUSKAL instead — a RECURSIVE CTE scanning edges in
weight order and carrying the union-find as a list — so the hash
match proves two DIFFERENT classic MST algorithms agree on every
chosen edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

_MST_ROUNDS = 40  # hard cap only; the loop exits when no cross edge
# remains. Star-hooking contracts partially, so rounds ~ 2*log2(n);
# 40 covers nations far beyond any realistic supplier count.


@query(
    "graph_mst_boruvka",
    oracle=f"""
        WITH RECURSIVE ranked AS (
            SELECT s_nationkey AS na, s_suppkey AS sk,
                   ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                      ORDER BY s_suppkey) AS rk
            FROM supplier
        ), edges AS (
            SELECT a.na, a.sk AS ea, b.sk AS eb,
                   CAST({sql_hex4(
                       "'e:' || CAST(a.sk AS VARCHAR) || ':' "
                       "|| CAST(b.sk AS VARCHAR)")} AS BIGINT) AS w
            FROM ranked a JOIN ranked b
              ON b.na = a.na AND b.rk - a.rk IN (1, 2)
        ), eseq AS (
            SELECT na, ea, eb, w,
                   ROW_NUMBER() OVER (PARTITION BY na
                                      ORDER BY w, ea, eb) AS i,
                   COUNT(*) OVER (PARTITION BY na) AS m
            FROM edges
        ), init AS (
            SELECT na,
                   list_transform(list(sk ORDER BY sk),
                                  s -> {{'n': s, 'c': s}}) AS comp
            FROM ranked GROUP BY na
        ), kr(na, i, comp, tw, ne) AS (
            SELECT na, CAST(0 AS BIGINT), comp, CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT)
            FROM init
            UNION ALL
            SELECT na, i + 1,
                   CASE WHEN ca <> cb THEN
                       list_transform(comp, x -> CASE
                           WHEN x.c = GREATEST(ca, cb)
                           THEN {{'n': x.n, 'c': LEAST(ca, cb)}}
                           ELSE x END)
                   ELSE comp END,
                   tw + CASE WHEN ca <> cb THEN w ELSE 0 END,
                   ne + CASE WHEN ca <> cb THEN 1 ELSE 0 END
            FROM (
                SELECT k.na, k.i, k.comp, k.tw, k.ne, e.w,
                       list_filter(k.comp, x -> x.n = e.ea)[1].c AS ca,
                       list_filter(k.comp, x -> x.n = e.eb)[1].c AS cb
                FROM kr k JOIN eseq e ON e.na = k.na AND e.i = k.i + 1
            )
        )
        SELECT n.na AS nationkey,
               CAST(n.cnt AS BIGINT) AS n_nodes,
               CAST(COALESCE(f.ne, 0) AS BIGINT) AS mst_edges,
               CAST(COALESCE(f.tw, 0) AS BIGINT) AS total_weight
        FROM (SELECT na, COUNT(*) AS cnt FROM ranked GROUP BY na) n
        LEFT JOIN (
            SELECT k.na, k.ne, k.tw
            FROM kr k JOIN (SELECT na, MAX(m) AS m FROM eseq GROUP BY na) z
              ON z.na = k.na AND k.i = z.m
        ) f ON f.na = n.na
        ORDER BY nationkey
    """,
    description="Minimum spanning forest by BORUVKA (the distributed "
    "MST algorithm: every component takes its minimum outgoing edge "
    "each round, O(log n) rounds) over per-nation supplier graphs "
    "with md5 edge weights; merges resolve through the repo's "
    "min-label connected-components operator. The oracle computes "
    "the same forest with KRUSKAL (recursive CTE scanning edges in "
    "weight order, union-find carried as a list), so the hash match "
    "proves two different classic algorithms pick the identical "
    "forest — valid because both use the same total edge order "
    "(weight, then endpoints), making the forest unique even under "
    "md5 weight ties. At 100 TB: bounded-degree edges (2 per node by "
    "construction), each round one relabel join + one struct-min "
    "partial agg + STAR-HOOKING merge resolution (hook to minimum "
    "pick-neighbor, one pointer jump — partial contraction is safe "
    "by the cut property, re-picks dedup, and the adaptive loop "
    "exits when no cross edge remains), localCheckpoint flattening "
    "lineage — the PageRank-class iterative shape with a CONSTANT "
    "number of small jobs per round, while Kruskal's sequential "
    "scan is exactly what cannot run distributed.",
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("na"), F.col("s_suppkey").alias("sk")
    )
    rk = Window.partitionBy("na").orderBy("sk")
    ranked = sup.withColumn("rk", F.row_number().over(rk))
    a, b = ranked.alias("a"), ranked.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.na") == F.col("a.na"))
            & (F.col("b.rk") - F.col("a.rk")).isin(1, 2),
        )
        .select(
            F.col("a.na").alias("na"),
            F.col("a.sk").alias("ea"),
            F.col("b.sk").alias("eb"),
            hex4(
                F.concat_ws(
                    ":",
                    F.lit("e"),
                    F.col("a.sk").cast("string"),
                    F.col("b.sk").cast("string"),
                )
            ).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    comp = sup.select(F.col("sk").alias("node"), F.col("sk").alias("comp"))
    chosen = None
    for _ in range(_MST_ROUNDS):
        ec = (
            edges.join(
                comp.select(
                    F.col("node").alias("ea"), F.col("comp").alias("ca")
                ),
                "ea",
            )
            .join(
                comp.select(
                    F.col("node").alias("eb"), F.col("comp").alias("cb")
                ),
                "eb",
            )
            .filter(F.col("ca") != F.col("cb"))
        )
        ed = F.struct("w", "ea", "eb", "na")
        cand = ec.select(F.col("ca").alias("c"), ed.alias("ed")).unionByName(
            ec.select(F.col("cb").alias("c"), ed.alias("ed"))
        )
        # r12: no per-round .distinct() — an edge picked by BOTH of its
        # endpoint components appears twice, which is harmless
        # downstream (hook is a groupBy-min; chosen dedups ONCE at the
        # end), so the dedup exchange is deferred out of the loop:
        # one fewer shuffle stage per round.
        picks = (
            cand.groupBy("c")
            .agg(F.min("ed").alias("ed"))  # lexicographic: weight first
            .select("ed.na", "ed.w", "ed.ea", "ed.eb")
            .localCheckpoint(eager=True)
        )
        # Convergence check folded into the picks materialization: no
        # cross edge <=> no candidate <=> picks empty. Checking picks
        # (already checkpointed) costs a scan of a tiny cached table.
        if picks.limit(1).count() == 0:
            break
        chosen = picks if chosen is None else chosen.unionByName(picks)
        merge_pairs = (
            picks.join(
                comp.select(
                    F.col("node").alias("ea"), F.col("comp").alias("ca")
                ),
                "ea",
            )
            .join(
                comp.select(
                    F.col("node").alias("eb"), F.col("comp").alias("cb")
                ),
                "eb",
            )
            .select("ca", "cb")
        )
        # Star-hooking instead of a full connected-components pass:
        # every component hooks to its MINIMUM pick-neighbor (strictly
        # contracting while any cross edge exists), then one pointer
        # jump flattens depth-2 chains. Partial contraction is safe by
        # the cut property — every per-round min outgoing edge is in
        # the MSF no matter how merges interleave, and a re-picked
        # edge dedups through the `chosen.distinct()` above — so the
        # outer loop simply runs more (still O(log n)) rounds, each a
        # constant number of small joins with NO inner convergence
        # loop. This replaced a per-round generic CC call whose
        # iteration checkpoints/counts dominated wall-clock at sf1.
        both = merge_pairs.unionByName(
            merge_pairs.select(
                F.col("cb").alias("ca"), F.col("ca").alias("cb")
            )
        )
        hook = (
            both.groupBy(F.col("ca").alias("node"))
            .agg(F.min("cb").alias("nbrmin"))
            .select(
                "node",
                F.least(F.col("node"), F.col("nbrmin")).alias("parent"),
            )
        )
        jump = hook.alias("h1").join(
            hook.select(
                F.col("node").alias("jnode"), F.col("parent").alias("jparent")
            ),
            F.col("parent") == F.col("jnode"),
            "left",
        ).select(
            "node",
            F.coalesce(F.col("jparent"), F.col("parent")).alias("parent"),
        )
        # second pointer jump (r11): flattens depth-4 chains in the
        # same per-round job, so contraction converges in fewer outer
        # rounds (each round = 2 jobs). The MSF is unique under the
        # lexicographic (w, ea, eb, na) edge order, so faster merge
        # interleaving cannot change the chosen forest.
        jump = jump.alias("j1").join(
            jump.select(
                F.col("node").alias("knode"), F.col("parent").alias("kparent")
            ),
            F.col("parent") == F.col("knode"),
            "left",
        ).select(
            "node",
            F.coalesce(F.col("kparent"), F.col("parent")).alias("parent"),
        )
        comp = (
            comp.join(
                jump.withColumnRenamed("node", "comp"),
                "comp",
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("parent"), F.col("comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
    counts = sup.groupBy(F.col("na").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    if chosen is None:
        # degenerate graph (no nation has >= 2 suppliers): empty forest
        return counts.select(
            "nationkey",
            "n_nodes",
            F.lit(0).cast("long").alias("mst_edges"),
            F.lit(0).cast("long").alias("total_weight"),
        ).orderBy("nationkey")
    per_nation = (
        # single end-of-loop dedup replaces the r11 per-round
        # .distinct(): the forest edge set is identical (duplicates
        # only ever arise from both endpoints picking the same edge)
        chosen.distinct()
        .groupBy(F.col("na").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("mst_edges"),
            F.sum("w").cast("long").alias("total_weight"),
        )
    )
    return (
        counts.join(per_nation, "nationkey", "left")
        .select(
            "nationkey",
            "n_nodes",
            F.coalesce(F.col("mst_edges"), F.lit(0))
            .cast("long")
            .alias("mst_edges"),
            F.coalesce(F.col("total_weight"), F.lit(0))
            .cast("long")
            .alias("total_weight"),
        )
        .orderBy("nationkey")
    )
