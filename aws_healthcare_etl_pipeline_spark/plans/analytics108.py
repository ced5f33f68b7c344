"""Wave-134 (round 5): k-fold cross-validation + personalized
PageRank.

* ``ml_kfold_cv_accuracy`` — the fundamental resampling estimate:
  the frozen known-truth scorer (wave-111 setup) is evaluated on 5
  deterministic md5 folds; per-fold exact permille accuracies plus
  the cross-fold spread show how stable the readout is — the CV
  primitive every model report quotes, computed in ONE pass
  because the folds partition the data.
* ``graph_personalized_pagerank`` — the recommender primitive:
  random-walk-with-restart from the highest-degree nation on the
  trade graph (restart probability 1/4), 12 power steps in exact
  ppm integers with a materialization barrier per step (the 2^k
  lesson) and per-term truncating division — the 'which partners
  matter to THIS node' ranking, vs the global PageRank the repo
  already carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import SQL_SEG_SCORE, heavy_trade, hex8, query, seg_score, sql_hex8


# ------------------------------------------------ k-fold CV

_FOLDS = 5


@query(
    "ml_kfold_cv_accuracy",
    oracle=f"""
        WITH scored AS (
            SELECT ({sql_hex8("'cv:' || CAST(c_custkey AS VARCHAR)")})
                       % {_FOLDS} AS fold,
                   CASE WHEN ({SQL_SEG_SCORE} > 10000)
                             = ({SQL_SEG_SCORE}
                                + ({sql_hex8(
                                    "'noise:' || CAST(c_custkey"
                                    " AS VARCHAR)")}) % 4000 > 8000)
                        THEN 1 ELSE 0 END AS ok
            FROM customer
        ), per_fold AS (
            SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(ok) * 1000 // COUNT(*) AS BIGINT)
                       AS acc_permille
            FROM scored GROUP BY fold
        )
        SELECT fold, n, acc_permille,
               CAST(MAX(acc_permille) OVER ()
                    - MIN(acc_permille) OVER () AS BIGINT)
                   AS fold_spread_permille
        FROM per_fold ORDER BY fold
    """,
    description="5-fold cross-validation of the frozen known-truth "
    "scorer: folds are md5 partitions (deterministic, disjoint, "
    "exhaustive), per-fold accuracy is exact integer permille, and "
    "the max-min fold spread rides on every row — the stability "
    "readout that separates a trustworthy eval from fold-to-fold "
    "noise. Because the folds PARTITION the data, the entire CV "
    "table costs one narrow projection and one partial-agg shuffle "
    "— the reason CV on aggregable metrics is free at 100 TB while "
    "CV on trained models is not (here the model is frozen, which "
    "is the honest cheap case).",
)
def ml_kfold_cv_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    score = seg_score()
    noise = (
        hex8(F.concat(F.lit("noise:"), F.col("c_custkey").cast("string")))
        % 4000
    )
    scored = cust.select(
        (
            hex8(F.concat(F.lit("cv:"), F.col("c_custkey").cast("string")))
            % _FOLDS
        ).alias("fold"),
        F.when((score > 10000) == (score + noise > 8000), 1)
        .otherwise(0)
        .alias("ok"),
    )
    per_fold = scored.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(SUM(ok) * 1000 div COUNT(*) AS LONG)").alias(
            "acc_permille"
        ),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_fold.select(
        "fold",
        "n",
        "acc_permille",
        (
            F.max("acc_permille").over(wall)
            - F.min("acc_permille").over(wall)
        )
        .cast("long")
        .alias("fold_spread_permille"),
    ).orderBy("fold")


# -------------------------------------- personalized PageRank

_PPR_STEPS = 12
_RESTART_PPM = 250_000  # alpha = 1/4


def _ppr_oracle() -> str:
    steps = []
    prev = "v0"
    for s in range(1, _PPR_STEPS + 1):
        steps.append(
            f"""v{s} AS MATERIALIZED (
            SELECT n.node AS state,
                   CAST(COALESCE(w.walk, 0) * 3 // 4
                        + CASE WHEN n.node = (SELECT src FROM source)
                               THEN {_RESTART_PPM} ELSE 0 END
                        AS BIGINT) AS v_ppm
            FROM nodes n LEFT JOIN (
                SELECT p.j AS state,
                       CAST(SUM((v.v_ppm * p.p_milli) // 1000)
                            AS BIGINT) AS walk
                FROM {prev} v JOIN p ON p.i = v.state GROUP BY p.j
            ) w ON w.state = n.node)"""
        )
        prev = f"v{s}"
    return f"""
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
        ), stt AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(w) AS BIGINT) AS tot
            FROM trade
        ), heavy AS (
            SELECT u, v FROM trade CROSS JOIN stt
            WHERE w * cnt * 2 >= 3 * tot
        ), edges AS MATERIALIZED (
            SELECT u, v FROM heavy
            UNION ALL SELECT v AS u, u AS v FROM heavy
        ), nodes AS MATERIALIZED (
            SELECT DISTINCT u AS node FROM edges
        ), deg AS MATERIALIZED (
            SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY u
        ), p AS MATERIALIZED (
            SELECT e.u AS i, e.v AS j,
                   CAST(1000 // d.d AS BIGINT) AS p_milli
            FROM edges e JOIN deg d ON d.node = e.u
        ), source AS MATERIALIZED (
            SELECT node AS src FROM deg
            ORDER BY d DESC, node LIMIT 1
        ), v0 AS MATERIALIZED (
            SELECT node AS state,
                   CASE WHEN node = (SELECT src FROM source)
                        THEN CAST(1000000 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS v_ppm
            FROM nodes
        ), {", ".join(steps)}
        SELECT v.state AS nationkey, v.v_ppm AS ppr_ppm,
               CASE WHEN v.state = (SELECT src FROM source)
                    THEN 1 ELSE 0 END AS is_source
        FROM v{_PPR_STEPS} v
        ORDER BY nationkey
    """


@query(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
    description="Personalized PageRank (random walk with restart, "
    "alpha = 1/4) from the highest-degree nation on the trade "
    "graph — the recommender/affinity primitive that answers "
    "'which partners matter to THIS node', versus the global "
    "PageRank the repo already carries: 12 power steps in exact "
    "ppm integers, per-term truncating division, uniform 1/deg "
    "transition rows in milli, restart mass re-injected each step, "
    "and a materialization barrier per step in BOTH engines (the "
    "measured 2^k alias-chain lesson). Node set joined back each "
    "step so mass lost to quantization never silently drops rows. "
    "100 TB shape: one q7-shaped trade aggregation; the walk runs "
    "on a <=25-node matrix, 12 bounded barrier-separated jobs.",
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    heavy = heavy_trade(spark, sf_dir)
    edges = heavy.unionAll(
        heavy.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    p = edges.join(deg, edges.u == deg.node).select(
        F.col("u").alias("i"),
        F.col("v").alias("j"),
        F.expr("CAST(1000 div d AS LONG)").alias("p_milli"),
    )
    # r12: the 12 restart-walk steps as ONE in-row integer fold over
    # the bounded (<=25-nation) matrix — the markov/DTW pattern. The
    # r11 form ran an eager localCheckpoint per step (25 Spark jobs
    # per run for a 25-row vector). The edge list is SYMMETRIC
    # (unionAll both directions), so the i-set of p IS the node set,
    # and the per-step `nodes LEFT JOIN walk` + COALESCE(walk,0) is
    # exactly the dense fold over that set: no presence tracking
    # needed (unlike markov). src = max-degree node, ties lowest —
    # computed in-row from the same cells. Identical arithmetic:
    # v'_j = (sum_i (v_i*P_ij) div 1000) * 3 div 4 (+ restart at src),
    # with the exact-multiple double division trick for `div`.
    cells = p.groupBy().agg(
        F.collect_list(F.struct("i", "j", "p_milli")).alias("cells")
    )
    row = cells.select(
        "cells",
        F.array_sort(
            F.array_distinct(F.transform("cells", lambda c: c["i"]))
        ).alias("states"),
    ).where(
        # degenerate graph (no heavy edge): the pre-fold form produced
        # zero output rows; drop the single all-empty row BEFORE the
        # fold — sequence(0, k-1) at k=0 yields [0, -1] and the fold
        # would index an empty array
        F.size("states") > 0
    )
    k = F.size("states")

    def _div(prod, d: int):
        return ((prod - prod % d) / d).cast("long")

    def _deg_of(s):
        return F.size(F.filter("cells", lambda c: c["i"] == s))

    # argmax degree, ties -> lowest node id (states is ascending)
    src = F.aggregate(
        F.col("states"),
        F.struct(
            F.lit(None).cast("int").alias("s"),
            F.lit(-1).alias("d"),
        ),
        lambda acc, s: F.when(
            _deg_of(s) > acc["d"],
            F.struct(s.cast("int").alias("s"), _deg_of(s).alias("d")),
        ).otherwise(acc),
    )["s"]
    row = row.select(
        "states",
        src.alias("src"),
        F.map_from_entries(
            F.transform(
                "cells",
                lambda c: F.struct(
                    (
                        (F.array_position(F.col("states"), c["i"]) - 1) * k
                        + (F.array_position(F.col("states"), c["j"]) - 1)
                    )
                    .cast("long")
                    .alias("key"),
                    c["p_milli"].alias("value"),
                ),
            )
        ).alias("pmap"),
    )
    k = F.size("states")
    idxs = F.sequence(F.lit(0), k - F.lit(1))
    v0 = F.transform(
        F.col("states"),
        lambda s: F.when(s == F.col("src"), F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(_PPR_STEPS)),
        v0,
        lambda v, _: F.transform(
            idxs,
            lambda jx: (
                _div(
                    F.aggregate(
                        idxs,
                        F.lit(0).cast("long"),
                        lambda s, ix: s
                        + _div(
                            F.element_at(v, ix + F.lit(1))
                            * F.coalesce(
                                F.element_at(
                                    F.col("pmap"), (ix * k + jx).cast("long")
                                ),
                                F.lit(0).cast("long"),
                            ),
                            1000,
                        ),
                    )
                    * 3,
                    4,
                )
                + F.when(
                    F.element_at(F.col("states"), jx + F.lit(1))
                    == F.col("src"),
                    F.lit(_RESTART_PPM),
                ).otherwise(F.lit(0))
            ).cast("long"),
        ),
    )
    return (
        row.select(
            F.col("src"),
            F.explode(F.arrays_zip(F.col("states"), fold.alias("v"))).alias(
                "z"
            ),
        )
        .select(
            F.col("z.states").cast("int").alias("nationkey"),
            F.col("z.v").alias("ppr_ppm"),
            F.when(F.col("z.states") == F.col("src"), 1)
            .otherwise(0)
            .alias("is_source"),
        )
        .orderBy("nationkey")
    )
