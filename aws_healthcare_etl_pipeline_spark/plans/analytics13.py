"""Wave-19: sampling, chunking, temporal weighting, schema evolution,
and graph breadth — the remaining training-pipeline and engine-surface
shapes.

Cross-engine exactness notes:
- The weighted-reservoir key uses pow(u, 1/w) with u a rational from a
  shared integer hash; pow may differ by an ulp across libm builds,
  but only sampled IDs are emitted and the k-boundary gap is checked
  to be astronomically wider than an ulp (tests/test_sampling_gap.py).
- Chunking arithmetic is all-integer; chunk identity goes through md5
  hex strings (identical in both engines).
- Time-weighted averages multiply exact DECIMAL values by exact
  integer microsecond gaps; only the final ratio is double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import dec, query, scratch

RESERVOIR_K = 10
HASH_MOD = 1_000_000


@query(
    "sampling_weighted_reservoir",
    oracle=f"""
        WITH keyed AS (
            SELECT c_mktsegment, c_custkey,
                   pow((CAST(list_reduce(
                            list_transform(
                              string_split_regex(
                                substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12), ''),
                              c -> strpos('0123456789abcdef', c) - 1)::BIGINT[],
                            (a, b) -> a * 16 + b) % {HASH_MOD} AS DOUBLE) + 0.5)
                       / {HASH_MOD}.0,
                       1.0 / ((CAST(c_acctbal AS DECIMAL(15,2)) + 1001.0)::DOUBLE)) AS k
            FROM customer
        ), ranked AS (
            SELECT c_mktsegment, c_custkey,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY k DESC, c_custkey) AS rn
            FROM keyed
        )
        SELECT c_mktsegment, c_custkey AS sampled_custkey, CAST(rn AS INT) AS rn
        FROM ranked WHERE rn <= {RESERVOIR_K}
        ORDER BY c_mktsegment, rn
    """,
    description="A-ES weighted reservoir sampling (Efraimidis-"
    "Spirakis): fixed-size-{k} per-group sample without replacement, "
    "inclusion probability proportional to weight, via the key "
    "u^(1/w) with u a deterministic rational from a shared integer "
    "hash — so the 'random' stream is engine-portable and the sample "
    "is reproducible. One shuffle (the per-group top-k window); at "
    "scale WindowGroupLimit caps what moves. NOTE: only sampled IDs "
    "are output; pow's last-ulp wobble cannot flip the k-boundary "
    "(gap checked in tests).",
)
def sampling_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # u must be identical in both engines, and no native hash is
    # shared (DuckDB hash() != xxhash64), so both derive u from the
    # first 12 hex chars of md5(custkey) — md5 is bit-identical
    # everywhere.
    u = (
        (F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12), 16, 10).cast("long")
         % HASH_MOD + F.lit(0.5))
        / HASH_MOD
    )
    w = (dec("c_acctbal") + F.lit(1001.0)).cast("double")
    keyed = cust.select(
        "c_mktsegment",
        "c_custkey",
        F.pow(u, F.lit(1.0) / w).alias("k"),
    )
    rn = F.row_number().over(
        Window.partitionBy("c_mktsegment").orderBy(F.desc("k"), F.asc("c_custkey"))
    )
    return (
        keyed.withColumn("rn", rn)
        .filter(F.col("rn") <= RESERVOIR_K)
        .select(
            "c_mktsegment",
            F.col("c_custkey").alias("sampled_custkey"),
            F.col("rn").cast("int").alias("rn"),
        )
        .orderBy("c_mktsegment", "rn")
    )


CHUNK = 50
STRIDE = 40


@query(
    "pipeline_document_chunking",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(text), '[ ]+') AS t
            FROM documents
        ), meta AS (
            SELECT doc_id, lang, len(t) AS n,
                   CASE WHEN len(t) <= {CHUNK - STRIDE} THEN 1
                        ELSE CAST(floor((len(t) - {CHUNK - STRIDE} - 1) / {STRIDE}) AS BIGINT) + 1
                   END AS n_chunks,
                   t
            FROM toks
        ), chunks AS (
            SELECT doc_id, lang, n, s.i AS ci,
                   least({CHUNK}, n - s.i * {STRIDE}) AS chunk_len,
                   md5(array_to_string(t[s.i * {STRIDE} + 1 : s.i * {STRIDE} + least({CHUNK}, n - s.i * {STRIDE})], ' ')) AS chunk_md5
            FROM meta, LATERAL (SELECT UNNEST(generate_series(0, n_chunks - 1)) AS i) s
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(chunk_len) AS BIGINT) AS sum_chunk_tokens,
               CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks
        FROM chunks
        GROUP BY lang
        ORDER BY lang
    """,
    description=f"Sliding-window document chunking for LLM training: "
    f"{CHUNK}-token chunks, stride {STRIDE} ({CHUNK - STRIDE}-token "
    "overlap), final partial chunk kept unless fully covered by its "
    "predecessor. All-integer start/length arithmetic; chunk identity "
    "via md5 of the joined token slice (engine-identical). The "
    "explode is one generator per doc with n/stride elements — "
    "linear, and the Spark side slices a materialized token array "
    "(no per-chunk re-tokenization).",
)
def pipeline_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), " +").alias("t")
    )
    meta = toks.select(
        "doc_id",
        "lang",
        "t",
        F.size("t").alias("n"),
        F.when(F.size("t") <= CHUNK - STRIDE, F.lit(1).cast("long"))
        .otherwise(
            F.floor((F.size("t") - (CHUNK - STRIDE) - 1) / STRIDE).cast("long") + 1
        )
        .alias("n_chunks"),
    )
    chunks = meta.select(
        "doc_id",
        "lang",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("ci"),
        "t",
    ).select(
        "doc_id",
        "lang",
        F.least(F.lit(CHUNK), F.col("n") - F.col("ci") * STRIDE).alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    F.col("ci") * STRIDE + 1,
                    F.least(F.lit(CHUNK), F.col("n") - F.col("ci") * STRIDE),
                ),
            )
        ).alias("chunk_md5"),
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("sum_chunk_tokens"),
            F.count_distinct("chunk_md5").alias("n_distinct_chunks"),
        )
        .orderBy("lang")
    )


@query(
    "events_time_weighted_value",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS v_cents,
                   epoch_us(lead(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) - ts) // 1000
                       AS dt_ms
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(dt_ms) AS BIGINT) AS n_intervals,
               CAST(SUM(dt_ms) AS BIGINT) AS total_ms,
               CAST(SUM(v_cents * dt_ms) AS DOUBLE)
                   / CAST(SUM(dt_ms) AS DOUBLE) / 100.0
                   AS time_weighted_value
        FROM gaps
        WHERE dt_ms IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="Time-weighted average over irregular event streams "
    "(the TWAP shape): each reading holds until the next event, so "
    "its weight is the gap to lead(ts), truncated to whole "
    "milliseconds (identical integer division in both engines). "
    "value-in-cents x gap-in-ms keeps every partial sum an exact "
    "BIGINT comfortably under 2^53 — the microsecond form overflowed "
    "double mantissa range, where Spark's correctly-rounded "
    "decimal->double and DuckDB's two-step cast disagree by an ulp. "
    "One window + one groupBy on the same user_id partitioning — "
    "Spark reuses the shuffle.",
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "user_id",
            (dec("value") * 100).cast("long").alias("v_cents"),
            (
                F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
            ).alias("dt_us"),
        )
        # integral div (gaps are positive, so trunc == floor == DuckDB //)
        .withColumn("dt_ms", F.expr("dt_us div 1000"))
        .filter(F.col("dt_ms").isNotNull())
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("dt_ms").alias("n_intervals"),
            F.sum("dt_ms").alias("total_ms"),
            (
                F.sum(F.col("v_cents") * F.col("dt_ms")).cast("double")
                / F.sum("dt_ms").cast("double")
                / F.lit(100.0)
            ).alias("time_weighted_value"),
        )
        .orderBy("user_id")
    )


@query(
    "format_schema_evolution",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS total_price,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS rows_with_status,
               CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1
                                        THEN o_orderstatus END) AS BIGINT)
                   AS n_status_values
        FROM orders
        WHERE o_orderkey < 2000
    """,
    description="Parquet schema evolution: batch 1 writes (key, "
    "price), batch 2 adds o_orderstatus; mergeSchema=true unifies the "
    "read schema and backfills batch-1 rows with NULL status — the "
    "add-a-column migration every long-lived table hits. The oracle "
    "recomputes the split directly (odd keys carry status). Footer-"
    "only schema merge; no data rewrite.",
)
def format_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    base = scratch(prefix="schema_evo_")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{base}/b=0")
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.mode("overwrite").parquet(f"{base}/b=1")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/b=0", f"{base}/b=1")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        F.sum(F.col("o_orderstatus").isNotNull().cast("long")).alias("rows_with_status"),
        F.count_distinct("o_orderstatus").alias("n_status_values"),
    )


@query(
    "graph_triangle_count",
    oracle="""
        WITH co AS (
            SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                   greatest(a.l_suppkey, b.l_suppkey) AS v
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_partkey < 400) a
            JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                  WHERE l_partkey < 400) b
              ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        )
        SELECT CAST((SELECT COUNT(*) FROM co) AS BIGINT) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM co e1
        JOIN co e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN co e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
    description="Triangle counting on the co-supply graph (suppliers "
    "sharing a part, bounded part range): edges deduped to u<v, then "
    "DEGREE-ORIENTED — each undirected edge points from its lower-"
    "degree endpoint to the higher (ties by id), making the graph a "
    "DAG ordered by (degree, id). Every triangle then has exactly "
    "one node with two out-edges, so the two-hop wedge join counts "
    "each triangle once, and out-degrees are capped at O(sqrt(m)): "
    "total wedge fan-out is O(m^1.5) instead of choose(deg, 2) on "
    "hub nodes — the difference between a skew-killed and a bounded "
    "shuffle on a power-law co-occurrence graph. The count is "
    "orientation-invariant, which is what the oracle pins.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 400)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"),
            F.col("b.l_suppkey").alias("v"),
        )
        .distinct()
    )
    # the edge list feeds five subtrees (degree x2, wedge x3) — pin it
    # once instead of re-deriving from the lineitem scan each time
    co = co.localCheckpoint(eager=False)
    # degree-orient: node-grain degree table (far smaller than the
    # edge list), joined twice, then each edge points low-degree ->
    # high-degree (tie: lower id). Out-degree in the oriented DAG is
    # O(sqrt(m)), bounding the wedge join below.
    deg = (
        co.select(F.col("u").alias("node"))
        .unionAll(co.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    u_first = F.col("du") <= F.col("dv")  # u < v already, so tie -> u
    oriented = (
        co.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
        )
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    # wedge (x->y, x->z) with ord(y) < ord(z) in the (deg, id) order,
    # closed by the oriented edge y->z
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
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = co.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri).select("n_edges", "n_triangles")


@query(
    "pipeline_curriculum_interleave",
    oracle="""
        WITH cuts AS (
            SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                           0.6, 0.7, 0.8, 0.9]) AS c
            FROM documents
        ), deciled AS (
            SELECT d.doc_id,
                   1 + len(list_filter(c, x -> d.n_chars > x))
                       AS difficulty
            FROM documents d CROSS JOIN cuts
        ), graded AS (
            SELECT doc_id, difficulty,
                   row_number() OVER (PARTITION BY difficulty
                                      ORDER BY doc_id) AS within_rank
            FROM deciled
        )
        SELECT doc_id, CAST(difficulty AS INT) AS difficulty,
               CAST(row_number() OVER (ORDER BY within_rank, difficulty)
                    AS INT) AS curriculum_pos
        FROM graded
        WHERE within_rank <= 100
        ORDER BY curriculum_pos
        LIMIT 100
    """,
    description="Curriculum interleave for training order: documents "
    "are deciled by length (difficulty proxy) via exact percentile "
    "CUTPOINTS broadcast to every row — not a global ntile(), whose "
    "single-task total sort dies on the corpus grain at 100 TB. "
    "Documents are then emitted round-robin across deciles (ORDER BY "
    "within-decile-rank, decile) so every training window sees the "
    "full difficulty mix; deterministic without randomness, "
    "reproducible across engines and runs. Scale shape: the first "
    "100 interleaved positions can only come from within-decile "
    "ranks <= 100 (any rank-101+ row sorts after 100 earlier rows), "
    "so the rank filter runs FIRST — Spark's WindowGroupLimit "
    "map-side-prefilters each partition to its per-decile top-100 "
    "before the decile shuffle — and the final total order runs on "
    "the <= 10*100 surviving rows, bounded regardless of corpus "
    "size. No unpartitioned window ever touches the full frame.",
)
def pipeline_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cuts = docs.agg(
        F.expr(
            "percentile(n_chars, array(0.1D,0.2D,0.3D,0.4D,0.5D,"
            "0.6D,0.7D,0.8D,0.9D))"
        ).alias("c")
    )
    graded = (
        docs.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            (
                F.size(F.filter(F.col("c"), lambda x: F.col("n_chars") > x)) + 1
            ).alias("difficulty"),
        )
        .withColumn(
            "within_rank",
            F.row_number().over(Window.partitionBy("difficulty").orderBy("doc_id")),
        )
        # literal rank bound -> WindowGroupLimit: each map task keeps
        # only its local per-decile top-100, so the decile window never
        # sees more than 100 * n_partitions rows per decile
        .filter(F.col("within_rank") <= 100)
    )
    return (
        graded.select(
            "doc_id",
            F.col("difficulty").cast("int").alias("difficulty"),
            F.row_number()
            .over(Window.orderBy("within_rank", "difficulty"))
            .cast("int")
            .alias("curriculum_pos"),
        )
        .orderBy("curriculum_pos")
        .limit(100)
    )
