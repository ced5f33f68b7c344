"""Wave-48 (round 5): SQL-surface corners — NULL-ordering semantics,
deterministic MODE aggregation, and CSV malformed-record modes (the
reference's own format, completing the corrupt-record story the JSONL
lane started).

Portability notes follow the registry grammar (plans/registry.py).
NULL ordering is the classic cross-engine divergence (Spark defaults
NULLS FIRST for ASC, DuckDB NULLS LAST) — every ordering here is
EXPLICIT on both sides, which is exactly the lesson the battery pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, scratch

# ------------------------------------------------ NULL ordering

_NULL_VARIANTS = (
    ("asc_nulls_first", "ASC NULLS FIRST"),
    ("asc_nulls_last", "ASC NULLS LAST"),
    ("desc_nulls_first", "DESC NULLS FIRST"),
    ("desc_nulls_last", "DESC NULLS LAST"),
)


@query(
    "sql_nulls_ordering_battery",
    oracle="""
        WITH src AS (
            SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
            FROM customer
        )
        {unions}
        ORDER BY variant, rnk
    """.format(
        unions="\n        UNION ALL\n".join(
            f"""        SELECT '{name}' AS variant, CAST(rnk AS BIGINT) AS rnk,
               c_custkey, seg
        FROM (
            SELECT c_custkey, seg,
                   row_number() OVER (
                       ORDER BY seg {sql}, c_custkey
                   ) AS rnk
            FROM src
        ) WHERE rnk <= 3"""
            for name, sql in _NULL_VARIANTS
        )
    ),
    description="NULL-ordering battery: top-3 customers under every "
    "explicit (ASC|DESC) x (NULLS FIRST|LAST) combination of a "
    "nullable sort key — pinning the classic cross-engine divergence "
    "(Spark defaults NULLS FIRST on ASC, most warehouses NULLS LAST), "
    "which silently reorders any top-k or window over a nullable "
    "column when ported. Every ordering is explicit on both sides; "
    "each variant is a TakeOrdered(3) scan (no global sort "
    "materialization), and the rank is assigned on the 3-row result. "
    "The lesson this battery encodes is applied repo-wide: orderings "
    "over nullable keys always state their null position.",
)
def sql_nulls_ordering_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    seg = F.col("seg")
    variants = {
        "asc_nulls_first": seg.asc_nulls_first(),
        "asc_nulls_last": seg.asc_nulls_last(),
        "desc_nulls_first": seg.desc_nulls_first(),
        "desc_nulls_last": seg.desc_nulls_last(),
    }
    out = None
    for name, order in variants.items():
        top = cust.orderBy(order, "c_custkey").limit(3)
        w = Window.orderBy(order, "c_custkey")
        part = top.select(
            F.lit(name).alias("variant"),
            F.row_number().over(w).cast("bigint").alias("rnk"),
            "c_custkey",
            "seg",
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("variant", "rnk")


# ------------------------------------------------- exact MODE


@query(
    "agg_mode_deterministic",
    oracle="""
        WITH counts AS (
            SELECT year(o_orderdate) AS yr, o_orderpriority AS pri,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        )
        SELECT CAST(yr AS BIGINT) AS yr, pri AS mode_priority, n
        FROM (
            SELECT yr, pri, n,
                   row_number() OVER (
                       PARTITION BY yr ORDER BY n DESC, pri
                   ) AS rk
            FROM counts
        ) WHERE rk = 1
        ORDER BY yr
    """,
    description="Exact MODE (most frequent value) per group with a "
    "DETERMINISTIC tie-break (count desc, value asc) — engines' "
    "built-in mode()/any_value tie behavior is unspecified, so a "
    "portable pipeline must spell the tie-break out; this is the "
    "canonical two-step: reduce to (group, value) counts in one "
    "partial-agg shuffle (the only pass over the fact table), then "
    "rank within each group's bounded value domain (5 priorities "
    "here; any low-cardinality categorical at 100 TB) — the window "
    "partitions by group, never globally.",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("yr").orderBy(F.col("n").desc(), "pri")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("yr").cast("bigint").alias("yr"),
            F.col("pri").alias("mode_priority"),
            "n",
        )
        .orderBy("yr")
    )


# --------------------------------------------- CSV malformed modes

CSV_MODE_KEY_CAP = 500
CSV_MODE_BAD_MOD = 50  # ids % 50 == 0 serialize malformed


@query(
    "format_csv_malformed_modes",
    oracle=f"""
        WITH src AS (
            SELECT o_orderkey AS id FROM orders
            WHERE o_orderkey < {CSV_MODE_KEY_CAP}
        ), marked AS (
            SELECT id, (id % {CSV_MODE_BAD_MOD} = 0) AS bad FROM src
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corrupt_permissive,
               CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_rows_dropmalformed,
               CAST(SUM(CASE WHEN bad THEN 0 ELSE id END) AS BIGINT)
                   AS sum_good_vs,
               TRUE AS failfast_raised
        FROM marked
    """,
    description="CSV malformed-record modes on the reference's own "
    "format (completing the corrupt-record story of the JSONL lane): "
    "every 50th row serializes with a non-numeric field, and the "
    "battery checks all three reader contracts — PERMISSIVE parks "
    "exactly the bad lines in columnNameOfCorruptRecord (nothing "
    "silently dropped), DROPMALFORMED keeps exactly the good rows "
    "(and their id checksum), and FAILFAST raises on first touch "
    "(asserted by executing the read and recording the boolean). "
    "This is the ingest-robustness decision every production CSV "
    "pipeline documents; the reference's inferSchema path is "
    "implicitly PERMISSIVE, so the battery states what that means. "
    "TRAP pinned here: with CSV column pruning (the default), a "
    "query that never reads the unparseable column sees NO "
    "malformation at all — DROPMALFORMED drops nothing and FAILFAST "
    "does not raise — so the drop/fail aggregates below explicitly "
    "reference the bad column to force full-row parsing; robustness "
    "contracts must be validated against the columns a query "
    "actually reads.",
)
def format_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < CSV_MODE_KEY_CAP
    )
    lines = orders.select(
        F.when(
            F.col("o_orderkey") % CSV_MODE_BAD_MOD == 0,
            F.concat(F.col("o_orderkey").cast("string"), F.lit(",oops")),
        )
        .otherwise(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                F.col("o_orderkey").cast("string"),
            )
        )
        .alias("value")
    )
    base = scratch(prefix="csv_modes_")
    lines.write.mode("overwrite").text(base)

    permissive = (
        spark.read.schema("id long, v long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base)
    )
    # cache: a _corrupt_record column cannot be queried alone (Spark
    # requires a materialized frame when referencing it with filters)
    permissive = permissive.cache()
    stats_p = permissive.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count("_corrupt_record").cast("bigint").alias(
            "n_corrupt_permissive"
        ),
    )
    dropm = (
        spark.read.schema("id long, v long")
        .option("mode", "DROPMALFORMED")
        .csv(base)
    )
    # referencing v forces the parse (see TRAP note in description)
    stats_d = dropm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_dropmalformed"),
        F.sum("v").cast("bigint").alias("sum_good_vs"),
    )
    try:
        (
            spark.read.schema("id long, v long")
            .option("mode", "FAILFAST")
            .csv(base)
            .agg(F.sum("v"))
            .collect()
        )
        raised = False
    except Exception:
        raised = True
    return (
        stats_p.crossJoin(F.broadcast(stats_d))
        .withColumn("failfast_raised", F.lit(raised))
        .select(
            "n_lines",
            "n_corrupt_permissive",
            "n_rows_dropmalformed",
            "sum_good_vs",
            "failfast_raised",
        )
    )


# -------------------------------------- SCD2 point-in-time join


@query(
    "scd2_point_in_time_join",
    oracle="""
        WITH changed AS (
            SELECT DISTINCT c_custkey FROM customer
            JOIN orders ON o_custkey = c_custkey
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
        ), matched AS (
            SELECT c.c_mktsegment AS seg,
                   CASE WHEN c.c_custkey IN (SELECT c_custkey FROM changed)
                             AND o.o_orderdate >= TIMESTAMP '1997-07-01'
                        THEN 2 ELSE 1 END AS version_no,
                   CASE WHEN c.c_custkey IN (SELECT c_custkey FROM changed)
                             AND o.o_orderdate >= TIMESTAMP '1997-07-01'
                        THEN round(c.c_acctbal + 100.0, 2)
                        ELSE c.c_acctbal END AS bal
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        SELECT seg, CAST(version_no AS BIGINT) AS version_no,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(bal AS DECIMAL(15,2))) AS DOUBLE)
                   AS balance_weighted_sum
        FROM matched
        GROUP BY seg, version_no
        ORDER BY seg, version_no
    """,
    description="Point-in-time (temporal) join against the SCD2 "
    "customer history: every order joins the dimension VERSION that "
    "was valid at its order date (valid_from <= t < valid_to) — the "
    "as-was reporting semantics that separates a type-2 warehouse "
    "from a lossy type-1 overwrite, and the reason the history "
    "exists at all. The history is built by the same operators/"
    "scd.py application as scd2_customer_balance_history (+$100 "
    "effective 1997-07-01 for 1997 purchasers); the join is equi on "
    "the business key with the validity range as a residual filter — "
    "one key-partitioned shuffle, version count per key is tiny (2) "
    "so the range residual is cheap at any scale. The oracle "
    "recomputes each order's valid version directly; exact decimal "
    "balance sums.",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed_keys = (
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    changes = cust.join(changed_keys, "c_custkey", "left_semi").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        F.lit("1997-07-01").cast("timestamp").alias("eff"),
    )
    hist = scd2_apply(dim, changes, key="c_custkey", effective_col="eff")
    fact = orders.select(
        F.col("o_custkey").alias("c_custkey"), "o_orderdate"
    )
    pit = fact.join(hist, "c_custkey").filter(
        (F.col("o_orderdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("o_orderdate") < F.col("valid_to"))
        )
    )
    version_no = F.when(
        F.col("valid_from") == F.lit("1995-01-01").cast("timestamp"), 1
    ).otherwise(2)
    return (
        pit.select(
            F.col("c_mktsegment").alias("seg"),
            version_no.cast("bigint").alias("version_no"),
            F.col("c_acctbal").cast("decimal(15,2)").alias("bal"),
        )
        .groupBy("seg", "version_no")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("bal").cast("double").alias("balance_weighted_sum"),
        )
        .orderBy("seg", "version_no")
    )


# ------------------------------------- MIPS vs cosine divergence

MIPS_QUERIES = 20
MIPS_TOPK = 5
MIPS_SCALE = 1_048_576
_MIPS_DIM = 64


@query(
    "emb_mips_vs_cosine_divergence",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  e -> CAST(FLOOR(CAST(e AS DOUBLE)
                                                  * {MIPS_SCALE}.0)
                                            AS BIGINT)) AS v
            FROM embeddings
        ), norms AS (
            SELECT vec_id, v,
                   sqrt(CAST(CAST(list_sum(list_transform(
                       range(1, {_MIPS_DIM + 1}), i -> v[i] * v[i]))
                       AS BIGINT) AS DOUBLE)) AS norm
            FROM q
        ), queries AS (
            SELECT vec_id AS q_id, v AS qv
            FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {MIPS_QUERIES}
        ), scored AS (
            SELECT qs.q_id, c.vec_id AS c_id,
                   CAST(list_sum(list_transform(range(1, {_MIPS_DIM + 1}),
                        i -> qs.qv[i] * c.v[i])) AS BIGINT) AS dot,
                   CAST(CAST(list_sum(list_transform(
                        range(1, {_MIPS_DIM + 1}),
                        i -> qs.qv[i] * c.v[i])) AS BIGINT) AS DOUBLE)
                       / c.norm AS scaled
            FROM queries qs JOIN norms c ON c.vec_id <> qs.q_id
        ), ranked AS (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY dot DESC, c_id) AS r_dot,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY scaled DESC, c_id) AS r_cos
            FROM scored
        ), ovl AS (
            SELECT a.q_id,
                   CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM ranked a JOIN ranked b
              ON a.q_id = b.q_id AND a.c_id = b.c_id
            WHERE a.r_dot <= {MIPS_TOPK} AND b.r_cos <= {MIPS_TOPK}
            GROUP BY a.q_id
        )
        SELECT n_overlap,
               CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM ovl
        GROUP BY n_overlap
        ORDER BY n_overlap
    """,
    description="MIPS-vs-cosine retrieval divergence: for a "
    f"deterministic {MIPS_QUERIES}-query panel, the top-{MIPS_TOPK} "
    "by raw inner product is compared with the top-k by "
    "corpus-norm-scaled score (equivalent cosine ordering for a "
    "fixed query), and the overlap histogram quantifies how much "
    "candidate NORM VARIANCE distorts retrieval — the audit that "
    "decides whether embeddings must be L2-normalized before an "
    "ANN index is built (dot-product indexes over unnormalized "
    "vectors silently favor long vectors). Dot products are exact "
    "int64 on the 2^20 lattice; the cosine ordering divides by one "
    "corpus-side sqrt (query norm is constant per partition, "
    "dropped); per-query rank windows are query-partitioned with "
    "deterministic (score, id) tie-breaks.",
)
def emb_mips_vs_cosine_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda e: F.floor(
                e.cast("double") * F.lit(float(MIPS_SCALE))
            ).cast("bigint"),
        ).alias("v"),
    )
    sq = F.aggregate(
        F.transform("v", lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    norms = q.select(
        "vec_id", "v", F.sqrt(sq.cast("double")).alias("norm")
    ).localCheckpoint(eager=False)
    queries = (
        q.select("vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(MIPS_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(queries)
        .join(norms, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            dot.alias("dot"),
            (dot.cast("double") / F.col("norm")).alias("scaled"),
        )
    )
    w_dot = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "c_id")
    w_cos = Window.partitionBy("q_id").orderBy(
        F.col("scaled").desc(), "c_id"
    )
    ranked = scored.select(
        "q_id",
        "c_id",
        F.row_number().over(w_dot).alias("r_dot"),
        F.row_number().over(w_cos).alias("r_cos"),
    )
    overlaps = (
        ranked.filter(
            (F.col("r_dot") <= MIPS_TOPK) & (F.col("r_cos") <= MIPS_TOPK)
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return (
        overlaps.groupBy("n_overlap")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
        .orderBy("n_overlap")
    )


# ------------------------------------------ stopword discovery

STOPWORD_TOP = 10


@query(
    "text_stopword_discovery",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id,
                   list_distinct(
                       regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS toks
            FROM documents
        ), n AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM docs
        ), df AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_docs_containing
            FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
            GROUP BY tok
        )
        SELECT tok, n_docs_containing,
               CAST(n_docs_containing * 1000000
                    // (SELECT n_docs FROM n) AS BIGINT) AS df_ppm
        FROM df
        ORDER BY n_docs_containing DESC, tok
        LIMIT {STOPWORD_TOP}
    """,
    description="Statistical stopword discovery: document frequency "
    "of every distinct token (presence, not count), ranked — the "
    "data-driven way to build the stopword list that RAKE-style "
    "phrase segmentation and index pruning consume, instead of "
    "importing a language-specific list that may not match the "
    "corpus (here it rediscovers the fixture's function words from "
    "statistics alone). One explode + one token-grain shuffle over "
    "the Heaps-bounded vocabulary; df fraction reported as exact "
    "integer ppm; top-10 via TakeOrdered with lexicographic "
    "tie-break.",
)
def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias(
            "toks"
        ),
    )
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    df = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_containing"))
    )
    return (
        df.crossJoin(F.broadcast(n))
        .select(
            "tok",
            "n_docs_containing",
            F.expr("n_docs_containing * 1000000 div n_docs")
            .cast("bigint")
            .alias("df_ppm"),
        )
        .orderBy(F.col("n_docs_containing").desc(), "tok")
        .limit(STOPWORD_TOP)
    )


# --------------------------------- local clustering coefficient


@query(
    "graph_clustering_coefficient",
    oracle="""
        WITH co AS (
            SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                   greatest(a.l_suppkey, b.l_suppkey) AS v
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_partkey < 400) a
            JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_partkey < 400) b
              ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        ), tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM co e1
            JOIN co e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN co e3 ON e3.u = e1.v AND e3.v = e2.v
        ), tri_per_node AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
            FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node
        ), deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (
                SELECT u AS node FROM co UNION ALL SELECT v FROM co
            ) GROUP BY node
        ), cc AS (
            SELECT d.node, d.deg,
                   COALESCE(t.n_tri, 0) AS n_tri,
                   CAST(COALESCE(t.n_tri, 0) * 2000000
                        // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
            FROM deg d LEFT JOIN tri_per_node t USING (node)
            WHERE d.deg >= 2
        )
        SELECT s.s_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(cc.n_tri) AS BIGINT) AS total_triangle_slots,
               CAST(SUM(cc.cc_ppm) // COUNT(*) AS BIGINT) AS avg_cc_ppm,
               CAST(MAX(cc.cc_ppm) AS BIGINT) AS max_cc_ppm
        FROM cc JOIN supplier s ON cc.node = s.s_suppkey
        GROUP BY s.s_nationkey
        ORDER BY s.s_nationkey
    """,
    description="Local clustering coefficient on the co-supply graph, "
    "rolled up per supplier nation: per node, cc = 2*triangles / "
    "(deg*(deg-1)) quantified as exact integer ppm (floor), so the "
    "per-nation average is an order-insensitive integer sum-then-"
    "divide — the community-density diagnostic (are my neighbors "
    "connected to each other?) behind ego-network features and "
    "link-prediction baselines. Triangles are enumerated with the "
    "SAME degree-oriented closure as graph_triangle_count (wedge "
    "fan-out bounded O(sqrt m) per node), each triangle exploded to "
    "its 3 members for the per-node counts; degrees reduce from the "
    "deduped edge list. The textbook canonical-edge enumeration "
    "lives only in the oracle.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 400)
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
        .localCheckpoint(eager=False)
    )
    deg = (
        co.select(F.col("u").alias("node"))
        .unionAll(co.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    u_first = F.col("du") <= F.col("dv")
    oriented = (
        co.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedge_ord = (F.col("e1.dst_deg") < F.col("e2.dst_deg")) | (
        (F.col("e1.dst_deg") == F.col("e2.dst_deg"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    tri = (
        e1.join(e2, (F.col("e2.src") == F.col("e1.src")) & wedge_ord)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.array(
                F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst")
            ).alias("members")
        )
    )
    tri_per_node = (
        tri.select(F.explode("members").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    cc = (
        deg.filter(F.col("deg") >= 2)
        .join(tri_per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.expr(
                "CAST(coalesce(n_tri, 0) * 2000000"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"), "s_nationkey"
    )
    return (
        cc.join(sup, "node")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("n_tri").cast("bigint").alias("total_triangle_slots"),
            F.expr("CAST(sum(cc_ppm) div count(1) AS BIGINT)").alias(
                "avg_cc_ppm"
            ),
            F.max("cc_ppm").cast("bigint").alias("max_cc_ppm"),
        )
        .orderBy("s_nationkey")
    )


# ------------------------------------------- frame-level dedup


@query(
    "multimodal_frame_dedup",
    oracle="""
        WITH frames AS (
            SELECT d.doc_id, f.fi,
                   md5(CAST(f.fi AS VARCHAR) || ':' || md5(d.text))
                       AS frame_checksum
            FROM documents d
            CROSS JOIN (SELECT unnest([0, 4, 8, 12]) AS fi) f
        ), per_idx AS (
            SELECT fi, frame_checksum, CAST(COUNT(*) AS BIGINT) AS n
            FROM frames GROUP BY fi, frame_checksum
        )
        SELECT CAST(fi AS BIGINT) AS frame_idx,
               CAST(SUM(n) AS BIGINT) AS n_frames,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_frames,
               CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_frames,
               CAST(MAX(n) AS BIGINT) AS max_cluster
        FROM per_idx
        GROUP BY fi
        ORDER BY frame_idx
    """,
    description="Cross-document frame-level dedup through the "
    "sample_frames Arrow lane (every-4th-frame sampling of the "
    "payload stream): frames sharing a checksum across documents are "
    "duplicate visual content — the video-corpus analogue of exact "
    "text dedup, run before any per-frame featurization because "
    "dup frames multiply embedding cost for zero information. The "
    "fake frame stream is md5-derived, so the oracle recomputes "
    "every checksum as md5(idx ':' md5(text)) and the hash check "
    "proves the distributed mapInPandas sampler bit-identical to "
    "SQL; the dedup itself is one 16-byte-key shuffle at frame "
    "grain. Real decoders swap into the same lane (operator "
    "docstring).",
)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(
        attach_binary_payload(docs, "text"), every_n=4
    )
    per_idx = frames.groupBy("frame_idx", "frame_checksum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        per_idx.groupBy("frame_idx")
        .agg(
            F.sum("n").cast("bigint").alias("n_frames"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_frames"),
            (F.sum("n") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_dup_frames"),
            F.max("n").cast("bigint").alias("max_cluster"),
        )
        .select(
            F.col("frame_idx").cast("bigint").alias("frame_idx"),
            "n_frames",
            "n_distinct_frames",
            "n_dup_frames",
            "max_cluster",
        )
        .orderBy("frame_idx")
    )


# ------------------------------------------- n-gram novelty rate


@query(
    "text_ngram_novelty_rate",
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(a) - 3, 1) + 1),
                       i -> concat_ws(' ', a[i], a[i+1], a[i+2], a[i+3]))))
                       AS g
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS a
                FROM documents
            )
        ), firsts AS (
            SELECT g, CAST(MIN(doc_id) AS BIGINT) AS first_doc
            FROM grams GROUP BY g
        ), per_doc AS (
            SELECT gr.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN f.first_doc = gr.doc_id
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
            FROM grams gr JOIN firsts f USING (g)
            GROUP BY gr.doc_id
        ), mm AS (
            SELECT CAST(MIN(doc_id) AS BIGINT) AS lo,
                   CAST(MAX(doc_id) AS BIGINT) AS hi
            FROM per_doc
        )
        SELECT CAST((10 * (doc_id - mm.lo)) // (mm.hi - mm.lo + 1)
                    AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS n_grams,
               CAST(SUM(n_novel) AS BIGINT) AS n_novel,
               CAST(SUM(n_novel) * 1000000 // SUM(n_grams) AS BIGINT)
                   AS novelty_ppm
        FROM per_doc, mm
        GROUP BY 1
        ORDER BY band
    """,
    description="4-gram novelty-rate curve over ingestion order: per "
    "document, the fraction of its distinct 4-grams never seen in any "
    "earlier document (first-occurrence attribution via one MIN(doc_"
    "id)-per-gram shuffle — the same one-pass reduction as the Heaps "
    "vocab curve, NEVER a per-doc rescan), rolled into ten "
    "ingestion-order bands. This is the repetition/memorization "
    "measurement an LLM-data owner tracks as a corpus grows: novelty "
    "collapsing toward zero means new data is mostly restating old "
    "data and the marginal training value is vanishing. Band edges "
    "come from a broadcast (min, max) pair; novelty is exact integer "
    "ppm.",
)
def text_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.parallelism import widen

    # Materialize the token array behind a barrier BEFORE building
    # grams: element_at/sequence lambdas over the raw split()
    # expression re-evaluate the split per element (the planner trap,
    # SCALE.md) — measured 24s at sf0.1 for what is a 2s job. Grams
    # come from four zipped slices of the materialized array (pure
    # array ops, one pass), covering docs down to 1 token via the
    # size guard (slice len < 1 -> empty, matching the oracle's
    # greatest(len-3, 1) truncated-gram contract for short docs).
    base = widen(docs, "doc_id").select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("a")
    ).localCheckpoint(eager=False)
    n = F.size("a")
    m = F.greatest(n - 3, F.lit(1))  # number of grams (>= 1)
    g12 = F.zip_with(
        F.slice("a", 1, m),
        F.slice("a", 2, m),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    g123 = F.zip_with(
        g12, F.slice("a", 3, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    grams_expr = F.array_distinct(
        F.zip_with(g123, F.slice("a", 4, m), lambda x, y: F.concat_ws(" ", x, y))
    )
    grams = base.select("doc_id", F.explode(grams_expr).alias("g"))
    firsts = grams.groupBy("g").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    per_doc = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("bigint")
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    mm = per_doc.agg(
        F.min("doc_id").cast("bigint").alias("lo"),
        F.max("doc_id").cast("bigint").alias("hi"),
    )
    return (
        per_doc.crossJoin(F.broadcast(mm))
        .select(
            F.expr("CAST((10 * (doc_id - lo)) div (hi - lo + 1) AS BIGINT)")
            .alias("band"),
            "n_grams",
            "n_novel",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            F.expr(
                "CAST(sum(n_novel) * 1000000 div sum(n_grams) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .orderBy("band")
    )


# ---------------------------------------------- fiscal calendar

FISCAL_START_MONTH = 2  # fiscal year starts in February


@query(
    "time_fiscal_calendar_rollup",
    oracle=f"""
        WITH mapped AS (
            SELECT CAST(year(o_orderdate)
                        + CASE WHEN month(o_orderdate)
                                    >= {FISCAL_START_MONTH}
                               THEN 1 ELSE 0 END AS BIGINT) AS fy,
                   CAST(1 + (month(o_orderdate) - {FISCAL_START_MONTH}
                             + 12) % 12 // 3 AS BIGINT) AS fq,
                   CAST(o_totalprice AS DECIMAL(15,2)) AS p
            FROM orders
        )
        SELECT fy, fq,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(p) AS DOUBLE) AS revenue
        FROM mapped
        GROUP BY fy, fq
        ORDER BY fy, fq
    """,
    description="Fiscal-calendar rollup (fiscal year beginning "
    "February, labeled by ending year): calendar dates remap to "
    "fiscal (year, quarter) with pure integer month arithmetic — "
    "(month - start + 12) % 12 gives the fiscal month offset, "
    "div 3 the quarter — the off-by-one minefield every finance "
    "pipeline reimplements; an explicit modular formula beats "
    "per-company CASE ladders and ports exactly across engines. "
    "Single partial-agg shuffle at fiscal (year, quarter) grain "
    "with exact decimal revenue.",
)
def time_fiscal_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    fy = (
        F.year("o_orderdate")
        + F.when(m >= FISCAL_START_MONTH, 1).otherwise(0)
    ).cast("bigint")
    fq = (
        1
        + F.expr(
            f"(month(o_orderdate) - {FISCAL_START_MONTH} + 12) % 12 div 3"
        )
    ).cast("bigint")
    return (
        orders.select(
            fy.alias("fy"),
            fq.alias("fq"),
            F.col("o_totalprice").cast("decimal(15,2)").alias("p"),
        )
        .groupBy("fy", "fq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("p").cast("double").alias("revenue"),
        )
        .orderBy("fy", "fq")
    )
