"""Wave-76 (round 5): shard-placement elasticity audits.

* ``dist_consistent_hash_rebalance`` — consistent-hash ring with
  virtual nodes: md5 positions for keys and vnodes, ownership =
  first vnode clockwise (wrap via global min), then the ring is
  re-audited with one shard ADDED — reporting per-shard key counts
  before/after and the moved-key permille (theory: ~1/(N+1) of keys
  move, only TO the new shard). The elasticity argument every
  distributed KV store rests on, verified exactly.
* ``dist_rendezvous_hash_rebalance`` — the same audit for rendezvous
  (highest-random-weight) hashing: owner = argmax md5(shard, key).
  HRW needs no vnode table and achieves the same minimal-movement
  bound; the pair of queries makes the trade measurable (ring: O(1)
  lookup structure, HRW: N hash evaluations per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_SHARDS = 4  # shards s0..s3; the rebalance adds s4
_VNODES = 16  # virtual nodes per shard (ring variant)


# ------------------------------------------------ consistent-hash ring


def _ring_oracle() -> str:
    parts = []
    for s in range(_SHARDS + 1):
        for v in range(_VNODES):
            seed = "'v:s%d:%d'" % (s, v)
            parts.append(
                "SELECT 's%d' AS shard, %s AS pos" % (s, sql_hex8(seed))
            )
    vn_rows = " UNION ALL ".join(parts)
    return f"""
        WITH vn AS ({vn_rows}),
        keys_h AS (
            SELECT c_custkey AS k,
                   {sql_hex8("'k:' || CAST(c_custkey AS VARCHAR)")} AS pos
            FROM customer
        ), own AS (
            SELECT k.k,
                   COALESCE(
                       MIN(CASE WHEN v.pos >= k.pos AND v.shard <> 's{_SHARDS}'
                                THEN v.pos END),
                       MIN(CASE WHEN v.shard <> 's{_SHARDS}'
                                THEN v.pos END)) AS own_before,
                   COALESCE(MIN(CASE WHEN v.pos >= k.pos THEN v.pos END),
                            MIN(v.pos)) AS own_after
            FROM keys_h k CROSS JOIN vn v
            GROUP BY k.k
        ), named AS (
            SELECT o.k,
                   vb.shard AS shard_before,
                   va.shard AS shard_after
            FROM own o
            JOIN vn vb ON vb.pos = o.own_before
            JOIN vn va ON va.pos = o.own_after
        )
        SELECT shard_after AS shard,
               CAST(SUM(CASE WHEN shard_before = shard_after
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_keys,
               CAST(SUM(CASE WHEN shard_before <> shard_after
                             THEN 1 ELSE 0 END) AS BIGINT) AS gained_keys,
               CAST(COUNT(*) AS BIGINT) AS total_after,
               CAST((SUM(CASE WHEN shard_before <> shard_after
                              THEN 1 ELSE 0 END) * 1000)
                    // (SELECT COUNT(*) FROM keys_h) AS BIGINT)
                   AS moved_permille_of_all
        FROM named GROUP BY shard_after ORDER BY shard
    """


@query(
    "dist_consistent_hash_rebalance",
    oracle=_ring_oracle(),
    description="Consistent-hash ring rebalance audit: customers and "
    f"{_VNODES} virtual nodes per shard take md5 ring positions, "
    "ownership is the first vnode clockwise (wrap via global min), "
    "and the ring is re-evaluated with one shard added — per-shard "
    "kept/gained counts show that keys move ONLY to the new shard "
    "and only ~1/(N+1) of them (the elasticity bound every "
    "distributed KV store rests on), verified exactly, no "
    "probability hand-waving. At 100 TB: the vnode table is "
    "metadata-sized and broadcast; ownership is one conditional-min "
    "aggregation per key over that broadcast (production replaces it "
    "with a binary search, same semantics), so the audit is one scan "
    "of the key population.",
)
def dist_consistent_hash_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    vn_rows = [
        (f"s{s}", f"v:s{s}:{v}")
        for s in range(_SHARDS + 1)
        for v in range(_VNODES)
    ]
    vn = spark.createDataFrame(
        vn_rows, schema="shard string, seed string"
    ).select("shard", hex8(F.col("seed")).alias("pos"))
    keys_h = cust.select(
        F.col("c_custkey").alias("k"),
        hex8(F.concat(F.lit("k:"), F.col("c_custkey").cast("string"))).alias("pos"),
    )
    old = F.col("shard") != f"s{_SHARDS}"
    own = (
        keys_h.crossJoin(F.broadcast(vn.withColumnRenamed("pos", "vpos")))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("vpos") >= F.col("pos")) & old, F.col("vpos")
                    )
                ),
                F.min(F.when(old, F.col("vpos"))),
            ).alias("own_before"),
            F.coalesce(
                F.min(F.when(F.col("vpos") >= F.col("pos"), F.col("vpos"))),
                F.min("vpos"),
            ).alias("own_after"),
        )
    )
    vb = vn.select(
        F.col("pos").alias("own_before"), F.col("shard").alias("shard_before")
    )
    va = vn.select(
        F.col("pos").alias("own_after"), F.col("shard").alias("shard_after")
    )
    named = own.join(F.broadcast(vb), "own_before").join(
        F.broadcast(va), "own_after"
    )
    total = keys_h.agg(F.count(F.lit(1)).alias("t"))
    return (
        named.groupBy(F.col("shard_after").alias("shard"))
        .agg(
            F.sum(
                F.when(F.col("shard_before") == F.col("shard_after"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("kept_keys"),
            F.sum(
                F.when(F.col("shard_before") != F.col("shard_after"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("gained_keys"),
            F.count(F.lit(1)).cast("long").alias("total_after"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "shard",
            "kept_keys",
            "gained_keys",
            "total_after",
            F.expr("(gained_keys * 1000) div t")
            .cast("long")
            .alias("moved_permille_of_all"),
        )
        .orderBy("shard")
    )


# ------------------------------------------------ rendezvous hashing


def _hrw_oracle() -> str:
    shard_rows_before = " UNION ALL ".join(
        f"SELECT 's{s}' AS shard" for s in range(_SHARDS)
    )
    shard_rows_after = " UNION ALL ".join(
        f"SELECT 's{s}' AS shard" for s in range(_SHARDS + 1)
    )
    wexpr = sql_hex8("s.shard || ':' || CAST(k.c_custkey AS VARCHAR)")
    return f"""
        WITH before AS (
            SELECT k.c_custkey AS ck, s.shard,
                   ROW_NUMBER() OVER (PARTITION BY k.c_custkey
                       ORDER BY {wexpr} DESC, s.shard) AS rk
            FROM customer k CROSS JOIN ({shard_rows_before}) s
        ), after AS (
            SELECT k.c_custkey AS ck, s.shard,
                   ROW_NUMBER() OVER (PARTITION BY k.c_custkey
                       ORDER BY {wexpr} DESC, s.shard) AS rk
            FROM customer k CROSS JOIN ({shard_rows_after}) s
        ), owners AS (
            SELECT b.ck, b.shard AS shard_before, a.shard AS shard_after
            FROM (SELECT ck, shard FROM before WHERE rk = 1) b
            JOIN (SELECT ck, shard FROM after WHERE rk = 1) a
              ON a.ck = b.ck
        )
        SELECT shard_after AS shard,
               CAST(SUM(CASE WHEN shard_before = shard_after
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_keys,
               CAST(SUM(CASE WHEN shard_before <> shard_after
                             THEN 1 ELSE 0 END) AS BIGINT) AS gained_keys,
               CAST(COUNT(*) AS BIGINT) AS total_after,
               CAST((SUM(CASE WHEN shard_before <> shard_after
                              THEN 1 ELSE 0 END) * 1000)
                    // (SELECT COUNT(*) FROM customer) AS BIGINT)
                   AS moved_permille_of_all
        FROM owners GROUP BY shard_after ORDER BY shard
    """


@query(
    "dist_rendezvous_hash_rebalance",
    oracle=_hrw_oracle(),
    description="Rendezvous (highest-random-weight) hashing rebalance "
    "audit: each key's owner is the shard maximizing md5(shard:key), "
    "re-evaluated with one shard added — keys provably move only to "
    "the new shard (any old shard's weight ordering among surviving "
    "shards is unchanged), and the per-shard kept/gained counts plus "
    "moved permille verify the ~1/(N+1) bound exactly. The vnode-free "
    "alternative to the ring: N hash evaluations per key, no lookup "
    "structure — at 100 TB the owner argmax is a per-key "
    "WindowGroupLimit over an N-row broadcast shard list (or a "
    "greatest() fold for fixed N), one scan, no shuffle beyond the "
    "final metadata-sized rollup.",
)
def dist_rendezvous_hash_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck")
    )

    def owner(n_shards: int):
        # greatest() fold over the fixed shard list: struct(weight, shard)
        cands = [
            F.struct(
                hex8(
                    F.concat(
                        F.lit(f"s{s}:"), F.col("ck").cast("string")
                    )
                ).alias("w"),
                # order must match the oracle tiebreak: weight DESC,
                # shard ASC -> invert shard for greatest()
                F.lit(-s).alias("neg_shard"),
                F.lit(f"s{s}").alias("shard"),
            )
            for s in range(n_shards)
        ]
        return F.greatest(*cands)["shard"]

    owners = cust.select(
        "ck",
        owner(_SHARDS).alias("shard_before"),
        owner(_SHARDS + 1).alias("shard_after"),
    )
    total = cust.agg(F.count(F.lit(1)).alias("t"))
    return (
        owners.groupBy(F.col("shard_after").alias("shard"))
        .agg(
            F.sum(
                F.when(F.col("shard_before") == F.col("shard_after"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("kept_keys"),
            F.sum(
                F.when(F.col("shard_before") != F.col("shard_after"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("gained_keys"),
            F.count(F.lit(1)).cast("long").alias("total_after"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "shard",
            "kept_keys",
            "gained_keys",
            "total_after",
            F.expr("(gained_keys * 1000) div t")
            .cast("long")
            .alias("moved_permille_of_all"),
        )
        .orderBy("shard")
    )
