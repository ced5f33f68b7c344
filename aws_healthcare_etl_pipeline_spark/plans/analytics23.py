"""Wave-42 (round 5): trigram fuzzy search (the pg_trgm pattern),
order-lifecycle backlog curve, and an embedding-geometry histogram.

Portability notes follow the registry grammar (plans/registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

# ------------------------------------------- trigram fuzzy search

TRGM_QUERIES = ("red wigdet", "blu bolt", "smal gear")
TRGM_TOP = 5

_TRGM_SQL_SET = (
    "list_distinct(list_transform(range(1, len({c}) - 1),"
    " i -> substr({c}, i, 3)))"
)


@query(
    "search_trigram_fuzzy_parts",
    oracle=f"""
        WITH queries AS (
            SELECT * FROM (VALUES
                {", ".join(f"('{q}')" for q in TRGM_QUERIES)}
            ) AS t(qs)
        ), qt AS (
            SELECT qs, unnest({_TRGM_SQL_SET.format(c="qs")}) AS tg,
                   len({_TRGM_SQL_SET.format(c="qs")}) AS nq
            FROM queries
        ), pt AS (
            SELECT p_partkey, p_name,
                   unnest({_TRGM_SQL_SET.format(c="p_name")}) AS tg,
                   len({_TRGM_SQL_SET.format(c="p_name")}) AS np
            FROM part
        ), shared AS (
            SELECT q.qs, p.p_partkey, p.p_name,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(MAX(q.nq) AS BIGINT) AS nq,
                   CAST(MAX(p.np) AS BIGINT) AS np
            FROM qt q JOIN pt p ON q.tg = p.tg
            GROUP BY q.qs, p.p_partkey, p.p_name
        ), scored AS (
            SELECT qs, p_partkey, p_name, c, nq, np,
                   CAST(c AS DOUBLE) / CAST(nq + np - c AS DOUBLE)
                       AS trigram_jaccard,
                   row_number() OVER (
                       PARTITION BY qs
                       ORDER BY CAST(c AS DOUBLE)
                                / CAST(nq + np - c AS DOUBLE) DESC,
                                p_partkey
                   ) AS rn
            FROM shared
        )
        SELECT qs AS query_string, CAST(rn AS BIGINT) AS rank,
               p_partkey, p_name, c AS shared_trigrams, trigram_jaccard
        FROM scored WHERE rn <= {TRGM_TOP}
        ORDER BY query_string, rank
    """,
    description="Trigram fuzzy search (the pg_trgm / inverted-index "
    "pattern): misspelled query strings match part names through a "
    "character-trigram inverted index — explode distinct trigrams on "
    "both sides, equi-join on the trigram, count shared, score with "
    "set Jaccard c/(|A|+|B|-c). This is THE scalable fuzzy-text-"
    "search shape at 100 TB: candidates come from an index JOIN "
    "(only names sharing at least one trigram are ever touched), "
    "never a scan-and-edit-distance pass; the tiny query set rides a "
    "broadcast, top-k per query is a query-partitioned rank window "
    "map-side-truncated by WindowGroupLimit. Jaccard is one exact-"
    "integer division; ordering ties break on partkey for a "
    "deterministic ranking.",
)
def search_trigram_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    # substring with a column start position needs the expr form
    q_rows = spark.createDataFrame([(q,) for q in TRGM_QUERIES], "qs string")
    tg_expr = (
        "array_distinct(transform(sequence(1, length({c}) - 2),"
        " i -> substring({c}, i, 3)))"
    )
    qt = q_rows.select(
        "qs",
        F.explode(F.expr(tg_expr.format(c="qs"))).alias("tg"),
        F.size(F.expr(tg_expr.format(c="qs"))).alias("nq"),
    )
    pt = part.select(
        "p_partkey",
        "p_name",
        F.explode(F.expr(tg_expr.format(c="p_name"))).alias("tg"),
        F.size(F.expr(tg_expr.format(c="p_name"))).alias("np"),
    )
    shared = (
        F.broadcast(qt)
        .join(pt, "tg")
        .groupBy("qs", "p_partkey", "p_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.max("nq").cast("bigint").alias("nq"),
            F.max("np").cast("bigint").alias("np"),
        )
    )
    jac = F.col("c").cast("double") / (
        F.col("nq") + F.col("np") - F.col("c")
    ).cast("double")
    w = Window.partitionBy("qs").orderBy(jac.desc(), "p_partkey")
    return (
        shared.withColumn("trigram_jaccard", jac)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TRGM_TOP)
        .select(
            F.col("qs").alias("query_string"),
            F.col("rn").cast("bigint").alias("rank"),
            "p_partkey",
            "p_name",
            F.col("c").alias("shared_trigrams"),
            "trigram_jaccard",
        )
        .orderBy("query_string", "rank")
    )


# --------------------------------------------------- order backlog


@query(
    "orders_backlog_daily",
    oracle="""
        WITH placed AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_placed
            FROM orders GROUP BY 1
        ), completed AS (
            SELECT done_day AS day, CAST(COUNT(*) AS BIGINT) AS n_done
            FROM (
                SELECT l_orderkey,
                       CAST(MAX(l_shipdate) AS DATE) AS done_day
                FROM lineitem GROUP BY l_orderkey
            ) GROUP BY done_day
        ), bounds AS (
            SELECT MIN(p.day) AS lo, GREATEST(MAX(p.day), MAX(c.day)) AS hi
            FROM placed p, completed c
        ), spine AS (
            SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE)
                       AS day
            FROM bounds
        )
        SELECT s.day::TIMESTAMP AS day,
               CAST(SUM(COALESCE(p.n_placed, 0)) OVER w AS BIGINT)
                   AS placed_cum,
               CAST(SUM(COALESCE(c.n_done, 0)) OVER w AS BIGINT)
                   AS completed_cum,
               CAST(SUM(COALESCE(p.n_placed, 0)) OVER w
                    - SUM(COALESCE(c.n_done, 0)) OVER w AS BIGINT)
                   AS backlog
        FROM spine s
        LEFT JOIN placed p ON s.day = p.day
        LEFT JOIN completed c ON s.day = c.day
        WINDOW w AS (ORDER BY s.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY day
    """,
    description="Order-fulfillment backlog curve: per calendar day, "
    "cumulative orders placed minus cumulative orders fully shipped "
    "(an order completes at its LAST lineitem ship date) — the "
    "operational WIP metric behind every fulfillment SLA dashboard. "
    "Two fact tables reduce independently to day-grain counts (one "
    "shuffle each: orders to placed-per-day, lineitem through a "
    "per-order max to completed-per-day), then a densified calendar "
    "spine carries two running sums — day-grain bounded, the "
    "sanctioned single-partition window (SCALE.md); orders with no "
    "lineitems correctly stay in the backlog forever. All counts "
    "exact int64.",
)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    placed = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_placed"))
    completed = (
        lineitem.groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_done"))
    )
    bounds = placed.crossJoin(
        completed.agg(F.max("day").alias("c_hi"))
    ).agg(
        F.min("day").alias("lo"),
        F.greatest(F.max("day"), F.max("c_hi")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(placed, "day", "left")
        .join(completed.withColumnRenamed("n_done", "n_done"), "day", "left")
        .select(
            "day",
            F.coalesce("n_placed", F.lit(0)).alias("p"),
            F.coalesce("n_done", F.lit(0)).alias("c"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.sum("p").over(w).cast("bigint").alias("placed_cum"),
            F.sum("c").over(w).cast("bigint").alias("completed_cum"),
            (F.sum("p").over(w) - F.sum("c").over(w))
            .cast("bigint")
            .alias("backlog"),
        )
        .orderBy("day")
    )


# ------------------------------------- cosine pair histogram

COS_PANEL = 500  # pair-histogram eval panel target size
COS_SCALE = 1_048_576  # 2^20 integer lattice (see emb_kmeans)
_COS_DIM = 64


@query(
    "emb_cosine_pair_histogram",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  e -> CAST(FLOOR(CAST(e AS DOUBLE)
                                                  * {COS_SCALE}.0)
                                            AS BIGINT)) AS v
            FROM embeddings
        ), pm AS (
            SELECT GREATEST(CAST(FLOOR(COUNT(*) / {COS_PANEL}.0)
                                 AS BIGINT), 1) AS panel_mod
            FROM q
        ), panel AS (
            SELECT vec_id, v,
                   sqrt(CAST(CAST(list_sum(list_transform(
                       range(1, {_COS_DIM + 1}), i -> v[i] * v[i]))
                       AS BIGINT) AS DOUBLE)) AS norm
            FROM q, pm WHERE vec_id % pm.panel_mod = 0
        ), pairs AS (
            SELECT CAST(FLOOR(
                       CAST(CAST(list_sum(list_transform(
                           range(1, {_COS_DIM + 1}),
                           i -> a.v[i] * b.v[i])) AS BIGINT) AS DOUBLE)
                       / (a.norm * b.norm) * 10.0) AS BIGINT) AS bin
            FROM panel a JOIN panel b ON a.vec_id < b.vec_id
        )
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs
        GROUP BY bin
        ORDER BY bin
    """,
    description="Pairwise-cosine histogram over a bounded embedding "
    f"panel (~{COS_PANEL} vectors via the data-derived modulus): the "
    "embedding-geometry diagnostic that exposes collapsed or "
    "anisotropic embedding spaces (mass piling near cos=1 means "
    "near-duplicate representations; a healthy space concentrates "
    "near 0) before anyone trusts the column for retrieval or "
    "dedup. The panel keeps the pair set fixed-size at ANY corpus "
    "scale — the all-pairs geometry sample a 100 TB owner actually "
    "inspects. Dot products and squared norms are exact int64 on "
    "the 2^20 lattice; each cosine is dot / (sqrt * sqrt) — an "
    "identically-shaped double expression in both engines — and "
    "bins by FLOOR(cos * 10), the sign-safe portable bucketer.",
)
def emb_cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda e: F.floor(
                e.cast("double") * F.lit(float(COS_SCALE))
            ).cast("bigint"),
        ).alias("v"),
    )
    pm = q.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / F.lit(float(COS_PANEL))).cast(
                "bigint"
            ),
            F.lit(1).cast("bigint"),
        ).alias("panel_mod")
    )
    sq = F.aggregate(
        F.transform("v", lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    panel = (
        q.crossJoin(F.broadcast(pm))
        .filter(F.col("vec_id") % F.col("panel_mod") == 0)
        .select("vec_id", "v", F.sqrt(sq.cast("double")).alias("norm"))
    )
    a = panel.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = panel.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            F.floor(
                dot.cast("double") / (F.col("na") * F.col("nb")) * F.lit(10.0)
            )
            .cast("bigint")
            .alias("bin")
        )
    )
    return (
        pairs.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("bin")
    )


# ------------------------------------------ bucketed co-located join

BUCKET_N = 8


@query(
    "join_bucketed_colocated",
    oracle="""
        SELECT date_trunc('month', o.o_orderdate) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2)))
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
        ORDER BY month
    """,
    description=f"Bucketed co-located fact-to-fact join: both lineitem "
    f"and orders are persisted as {BUCKET_N}-bucket tables keyed and "
    "sorted on the order key, then joined through the catalog — the "
    "planner elides BOTH shuffle exchanges (pinned by "
    "tests/test_plans.py::test_bucketed_join_has_no_exchange), which "
    "is the 100 TB play for any fact join repeated across daily "
    "runs: the shuffle is paid ONCE at write time, every subsequent "
    "join is a local merge per bucket. The oracle is the plain "
    "unbucketed textbook join — the hash match proves the bucketed "
    "physical layout computes the identical relation. Write + "
    "catalog round-trip happens inside the query (a managed-table "
    "side effect, same family as ref_ingest_roundtrip).",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from urllib.parse import urlparse

    from ..sources.bucketing import bucketed_join, write_bucketed_table

    # saveAsTable(overwrite) cannot reclaim a managed-table LOCATION the
    # current session's catalog has no entry for (a previous session's
    # leftover) — drop both the catalog entry and any orphan directory.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    for t in ("q_bkt_lineitem", "q_bkt_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wh.scheme in ("", "file"):
            shutil.rmtree(f"{wh.path}/{t}", ignore_errors=True)

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    write_bucketed_table(
        li, "q_bkt_lineitem", ["l_orderkey"], BUCKET_N,
        sort_cols=["l_orderkey"],
    )
    write_bucketed_table(
        orders, "q_bkt_orders", ["l_orderkey"], BUCKET_N,
        sort_cols=["l_orderkey"],
    )
    joined = bucketed_join(spark, "q_bkt_lineitem", "q_bkt_orders", "l_orderkey")
    return (
        joined.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(15,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("month")
    )


# ------------------------------------------ hashing-trick collisions

HASHING_KS = (8, 10, 12)  # feature-space sizes 2^k


@query(
    "text_hashing_trick_collisions",
    oracle=f"""
        WITH vocab AS (
            SELECT DISTINCT unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT tok,
                   list_reduce(
                     list_transform(
                       string_split_regex(substr(md5(tok), 1, 15), ''),
                       c -> strpos('0123456789abcdef', c) - 1)::BIGINT[],
                     (a, b) -> a * 16 + b) AS h
            FROM vocab WHERE tok <> ''
        ), ks AS (
            SELECT unnest([{", ".join(str(k) for k in HASHING_KS)}]) AS k
        ), loads AS (
            SELECT k, h % (CAST(1 AS BIGINT) << k) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS load
            FROM ks CROSS JOIN hashed
            GROUP BY 1, 2
        )
        SELECT CAST(k AS BIGINT) AS k,
               CAST(SUM(load) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
               CAST(MAX(load) AS BIGINT) AS max_bucket_load,
               CAST(SUM(load) - COUNT(*) AS DOUBLE)
                   / CAST(SUM(load) AS DOUBLE) AS collision_fraction
        FROM loads
        GROUP BY k
        ORDER BY k
    """,
    description="Hashing-trick feature-space audit: the distinct "
    "vocabulary is hashed into 2^k buckets for k in {8,10,12} with "
    "the md5-derived 60-bit portable hash, and the audit reports "
    "buckets used, worst bucket load, and the collision fraction — "
    "the measurement that picks the feature-space size before "
    "committing a hashed bag-of-words / categorical encoder at "
    "100 TB (collisions silently merge features; too many buckets "
    "waste model width). Vocabulary is Heaps-bounded, so the "
    "3-way k expansion joins a saturating relation, not the corpus; "
    "hash and modulus are exact integers in both engines; the one "
    "double is the final fraction.",
)
def text_hashing_trick_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    hashed = vocab.select(
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("h")
    )
    ks = spark.createDataFrame([(k,) for k in HASHING_KS], "k int")
    # shiftleft needs expr-form for a column shift amount
    loads = (
        F.broadcast(ks)
        .crossJoin(hashed)
        .select(
            "k",
            F.expr("h % shiftleft(cast(1 as bigint), k)").alias("bucket"),
        )
        .groupBy("k", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("load"))
    )
    return (
        loads.groupBy("k")
        .agg(
            F.sum("load").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
            F.max("load").cast("bigint").alias("max_bucket_load"),
            (
                (F.sum("load") - F.count(F.lit(1))).cast("double")
                / F.sum("load").cast("double")
            ).alias("collision_fraction"),
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_tokens",
            "n_buckets_used",
            "max_bucket_load",
            "collision_fraction",
        )
        .orderBy("k")
    )
