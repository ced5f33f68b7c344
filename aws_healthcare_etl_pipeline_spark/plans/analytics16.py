"""Wave-22: readability scoring, quantile normalization, and the
percent_rank/cume_dist window battery.

All three follow the repo's exactness discipline: no libm call ever
touches data-derived values (the Flesch constants multiply exact
counts; quantile normalization maps through ntile buckets and exact
decimal means; percent_rank is the exact rational (rank-1)/(n-1)
evaluated as the same double division in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import dec, query, scratch

# portable regex subset (see analytics12 notes)
RE_SENT = r"[.!?]+"
RE_SYLL = r"[aeiouyAEIOUY]+"
RE_WORD = r"[A-Za-z]+"


@query(
    "text_readability_scores",
    oracle=f"""
        WITH counts AS (
            SELECT lang,
                   len(regexp_extract_all(text, '{RE_WORD}')) AS words,
                   greatest(len(regexp_extract_all(text, '{RE_SENT}')), 1)
                       AS sents,
                   len(regexp_extract_all(text, '{RE_SYLL}')) AS sylls
            FROM documents
        ), agg AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(words) AS BIGINT) AS total_words,
                   CAST(SUM(sents) AS BIGINT) AS total_sentences,
                   CAST(SUM(sylls) AS BIGINT) AS total_syllable_groups
            FROM counts WHERE words > 0
            GROUP BY lang
        )
        SELECT lang, n_docs, total_words, total_syllable_groups,
               206.835
               - 1.015 * (CAST(total_words AS DOUBLE)
                          / CAST(total_sentences AS DOUBLE))
               - 84.6 * (CAST(total_syllable_groups AS DOUBLE)
                         / CAST(total_words AS DOUBLE))
                   AS corpus_flesch
        FROM agg
        ORDER BY lang
    """,
    description="Flesch reading-ease scoring (the classic readability "
    "screen for curation filters): words, sentence terminators, and "
    "vowel-group syllable proxies counted with portable regexes; the "
    "corpus-level Flesch formula is constants x ratios of exact "
    "BIGINT sums — identical double trees, no libm on data, and no "
    "order-dependent double summation (a per-doc flesch mean would "
    "sum arbitrary doubles in partition order; ratios of exact sums "
    "are the order-stable form).",
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "lang",
        F.size(F.expr(f"regexp_extract_all(text, '{RE_WORD}', 0)")).alias("words"),
        F.greatest(
            F.size(F.expr(f"regexp_extract_all(text, '{RE_SENT}', 0)")), F.lit(1)
        ).alias("sents"),
        F.size(F.expr(f"regexp_extract_all(text, '{RE_SYLL}', 0)")).alias("sylls"),
    ).filter(F.col("words") > 0)
    agg = counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("total_words"),
        F.sum("sents").alias("total_sentences"),
        F.sum("sylls").alias("total_syllable_groups"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_words",
        "total_syllable_groups",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (
                F.col("total_words").cast("double")
                / F.col("total_sentences").cast("double")
            )
            - F.lit(84.6)
            * (
                F.col("total_syllable_groups").cast("double")
                / F.col("total_words").cast("double")
            )
        ).alias("corpus_flesch"),
    ).orderBy("lang")


@query(
    "feature_quantile_normalization",
    oracle="""
        WITH bucketed AS (
            SELECT o_custkey, o_totalprice,
                   c_mktsegment,
                   ntile(100) OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice, o_orderkey) AS q
            FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT q,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   / COUNT(*) AS target
        FROM bucketed
        GROUP BY q
        ORDER BY q
    """,
    description="Quantile normalization (the ML-preprocessing "
    "standard for making distributions comparable across groups): "
    "each order maps to its within-segment percentile bucket "
    "(deterministic ntile with orderkey tiebreak); the emitted table "
    "IS the normalization mapping — bucket -> cross-segment exact-"
    "decimal mean (the value every group's bucket-q members adopt), "
    "plus per-bucket membership counts proving all segments land in "
    "every bucket. Applying the mapping is a 100-row broadcast join. "
    "No order-dependent double summation anywhere: the only double "
    "is the exact-decimal-sum / count convention.",
)
def feature_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    bucketed = joined.select(
        "c_mktsegment",
        "o_totalprice",
        F.ntile(100)
        .over(
            Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
        )
        .alias("q"),
    )
    return (
        bucketed.groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
            (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
                "target"
            ),
        )
        .orderBy("q")
    )


@query(
    "window_rank_battery",
    oracle="""
        WITH ranked AS (
            SELECT p_brand, p_partkey, p_retailprice,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   percent_rank() OVER w AS prnk,
                   cume_dist() OVER w AS cdist,
                   ntile(4) OVER w AS quartile
            FROM part
            WINDOW w AS (PARTITION BY p_brand
                         ORDER BY p_retailprice, p_partkey)
        )
        SELECT p_brand, p_partkey, rnk, drnk, prnk, cdist,
               CAST(quartile AS INT) AS quartile
        FROM ranked
        WHERE p_partkey % 7 = 0
        ORDER BY p_brand, p_partkey
    """,
    description="The remaining ranking-window battery: rank, "
    "dense_rank, percent_rank ((rank-1)/(n-1), an exact rational in "
    "identical double division), cume_dist, and ntile quartiles, all "
    "over one shared WINDOW spec (single sort). Unique (price, "
    "partkey) ordering makes every function deterministic; the "
    "modulo-7 projection keeps output compact without changing the "
    "windows.",
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
        .filter(F.col("p_partkey") % 7 == 0)
        .select("p_brand", "p_partkey", "rnk", "drnk", "prnk", "cdist", "quartile")
        .orderBy("p_brand", "p_partkey")
    )


@query(
    "scalar_try_functions_battery",
    oracle="""
        WITH raw AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 3 = 0
                        THEN 'x' || CAST(o_orderkey AS VARCHAR)
                        ELSE CAST(o_orderkey AS VARCHAR) END AS int_str,
                   CASE WHEN o_orderkey % 4 = 0 THEN 'not-a-date'
                        ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date_str,
                   o_orderkey % 5 AS denom
            FROM orders WHERE o_orderkey < 4000
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(TRY_CAST(int_str AS BIGINT)) AS BIGINT) AS ok_ints,
               CAST(SUM(TRY_CAST(int_str AS BIGINT)) AS BIGINT) AS sum_ok_ints,
               CAST(COUNT(TRY_CAST(date_str AS DATE)) AS BIGINT) AS ok_dates,
               CAST(COUNT(CASE WHEN denom = 0 THEN NULL
                                ELSE o_orderkey // denom END) AS BIGINT)
                   AS ok_divs,
               CAST(SUM(CASE WHEN denom = 0 THEN NULL
                              ELSE o_orderkey // denom END) AS BIGINT)
                   AS sum_ok_divs
        FROM raw
    """,
    description="Graceful-degradation scalar surface: try_cast over "
    "deliberately corrupted int/date strings and try_divide with "
    "zero denominators — malformed inputs become NULLs that COUNT/SUM "
    "skip, instead of failing the job (ANSI mode's footgun for "
    "petabyte batch runs). The oracle mirrors try_divide's "
    "null-on-zero with an explicit CASE over integral division; "
    "corruption is keyed on o_orderkey so both engines corrupt "
    "identical rows.",
)
def scalar_try_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000)
    raw = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(F.lit("x"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("int_str"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("date_str"),
        (F.col("o_orderkey") % 5).alias("denom"),
    )
    tried = raw.select(
        F.expr("try_cast(int_str AS BIGINT)").alias("i"),
        F.expr("try_cast(date_str AS DATE)").alias("d"),
        F.expr("try_divide(o_orderkey, denom)").alias("q"),
        # try_divide yields double; the oracle pins the integral form
        F.when(
            F.col("denom") == 0, F.lit(None).cast("long")
        ).otherwise(F.expr("o_orderkey div denom")).alias("qi"),
    )
    return tried.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("i").alias("ok_ints"),
        F.sum("i").alias("sum_ok_ints"),
        F.count("d").alias("ok_dates"),
        F.count("qi").alias("ok_divs"),
        F.sum("qi").alias("sum_ok_divs"),
    )


@query(
    "maintenance_gdpr_erasure",
    oracle="""
        WITH victims AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
        ), survivors AS (
            SELECT o.* FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM victims)
        )
        SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS rows_before,
               CAST(COUNT(*) AS BIGINT) AS rows_after,
               CAST((SELECT COUNT(*) FROM orders) - COUNT(*) AS BIGINT)
                   AS rows_erased,
               CAST((SELECT COUNT(*) FROM victims) AS BIGINT)
                   AS subjects_requested,
               CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders
                     WHERE o_custkey IN (SELECT c_custkey FROM victims))
                    AS BIGINT) AS subjects_with_data,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS surviving_revenue
        FROM survivors
    """,
    description="Right-to-erasure (GDPR Art. 17) batch rewrite: a "
    "deletion list (every 97th customer, standing in for the request "
    "queue) anti-joins the fact table; the rewritten copy lands in a "
    "fresh directory (swap-on-success, same contract as compaction) "
    "and the audit row proves rows_before = rows_after + rows_erased "
    "plus how many requested subjects actually held data. The "
    "anti-join broadcasts the deletion list — at 100 TB the erasure "
    "cost is one scan + rewrite of affected partitions, and pairs "
    "with layout clustering on the subject key to touch fewer files.",
)
def maintenance_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    victims = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey")
    )
    base = scratch(prefix="gdpr_")
    survivors = orders.join(
        F.broadcast(victims), orders.o_custkey == victims.c_custkey, "left_anti"
    )
    survivors.write.mode("overwrite").parquet(f"{base}/orders")
    rewritten = spark.read.parquet(f"{base}/orders")

    before = orders.agg(F.count(F.lit(1)).alias("rows_before"))
    requested = victims.agg(F.count(F.lit(1)).alias("subjects_requested"))
    with_data = (
        orders.join(F.broadcast(victims), orders.o_custkey == victims.c_custkey, "left_semi")
        .agg(F.count_distinct("o_custkey").alias("subjects_with_data"))
    )
    after = rewritten.agg(
        F.count(F.lit(1)).alias("rows_after"),
        F.sum(dec("o_totalprice")).cast("double").alias("surviving_revenue"),
    )
    return (
        before.crossJoin(after)
        .crossJoin(requested)
        .crossJoin(with_data)
        .select(
            "rows_before",
            "rows_after",
            (F.col("rows_before") - F.col("rows_after")).alias("rows_erased"),
            "subjects_requested",
            "subjects_with_data",
            "surviving_revenue",
        )
    )


@query(
    "privacy_pseudonymize_stable_ids",
    oracle="""
        WITH pc AS (
            SELECT c_custkey, c_mktsegment,
                   substr(md5('v1:' || CAST(c_custkey AS VARCHAR)), 1, 16)
                       AS pseud
            FROM customer
        ), po AS (
            SELECT o_orderkey, o_totalprice,
                   substr(md5('v1:' || CAST(o_custkey AS VARCHAR)), 1, 16)
                       AS pseud
            FROM orders
        )
        SELECT pc.c_mktsegment,
               CAST(COUNT(DISTINCT pc.pseud) AS BIGINT) AS n_pseudonyms,
               CAST(COUNT(po.o_orderkey) AS BIGINT) AS n_orders_linked,
               CAST(SUM(CAST(po.o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS linked_revenue
        FROM pc LEFT JOIN po USING (pseud)
        GROUP BY pc.c_mktsegment
        ORDER BY pc.c_mktsegment
    """,
    description="Salted pseudonymization with referential integrity: "
    "customer keys are replaced by a keyed fingerprint "
    "(md5 of salt||key, truncated) APPLIED IDENTICALLY to the foreign "
    "key in orders, so joins still link post-pseudonymization — the "
    "privacy-engineering pattern for sharing linked analytical data "
    "without raw identifiers. The join-through-pseudonym result must "
    "equal the raw-key join (the oracle recomputes both sides from "
    "scratch). Salt rotation ('v1:') re-keys the whole universe "
    "consistently. Deterministic, engine-portable (md5), no UDF.",
)
def privacy_pseudonymize_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pseud(col):
        return F.substring(
            F.md5(F.concat(F.lit("v1:"), col.cast("string"))), 1, 16
        )

    cust = load_table(spark, sf_dir, "customer").select(
        pseud(F.col("c_custkey")).alias("pseud"), "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        pseud(F.col("o_custkey")).alias("pseud"), "o_orderkey", "o_totalprice"
    )
    return (
        cust.join(orders, "pseud", "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("pseud").alias("n_pseudonyms"),
            F.count("o_orderkey").alias("n_orders_linked"),
            F.sum(dec("o_totalprice")).cast("double").alias("linked_revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "events_sliding_distinct_users",
    oracle="""
        WITH contrib AS (
            SELECT DISTINCT
                   CAST(ts AS DATE) + CAST(s.i AS INT) AS bucket_day,
                   user_id
            FROM events,
                 LATERAL (SELECT UNNEST(generate_series(0, 6)) AS i) s
        ), bounds AS (
            SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
            FROM events
        )
        SELECT bucket_day::TIMESTAMP AS day,
               CAST(COUNT(user_id) AS BIGINT) AS distinct_users_7d
        FROM contrib, bounds
        WHERE bucket_day BETWEEN lo AND hi
        GROUP BY bucket_day
        ORDER BY day
    """,
    description="Exact distinct users over a TRAILING 7-day window per "
    "day — the sliding-distinct shape COUNT(DISTINCT) OVER RANGE "
    "can't do directly in Spark. Each event fans out to the 7 "
    "day-buckets it influences (explode of a 7-element sequence), "
    "then one (day, user) dedup + count — a single shuffle keyed on "
    "(day, user), no range join, no per-day rescan. The 7x row "
    "amplification is the explicit, bounded cost; at 100 TB the "
    "fan-out factor scales with window/granularity, not data. "
    "Days clip to the observed range so edge windows are partial "
    "(documented contract).",
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    contrib = events.select(
        F.explode(
            F.sequence(
                F.col("ts").cast("date"),
                F.date_add(F.col("ts").cast("date"), 6),
            )
        ).alias("bucket_day"),
        "user_id",
    ).distinct()
    bounds = events.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("bucket_day").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("bucket_day").cast("timestamp").alias("day"))
        .agg(F.count("user_id").alias("distinct_users_7d"))
        .orderBy("day")
    )


# Constant-density campaign sampling: the campaign set and the point set
# both grow with SF while the date domain is FIXED (~7 years), so a fixed
# 1/500 sampling modulus makes overlap pairs grow quadratically (measured:
# SCALE3 exp_sf1_sf3 = 1.11). The modulus scales with orders count on the
# same integer CASE ladder pattern as geo_grid_radius_join — constant at
# small SF (<=150k orders covers sf0.001/0.01/0.1, so oracle hashes and
# bench continuity are unchanged), then linear so the campaign COUNT stays
# ~constant and total pairs grow O(N).
_CAMPAIGN_LADDER = [(150_000, 500), (600_000, 2_000), (2_400_000, 8_000)]
_CAMPAIGN_MOD_MAX = 32_000


def _campaign_mod_case() -> str:
    cases = " ".join(f"WHEN n <= {lim} THEN {m}" for lim, m in _CAMPAIGN_LADDER)
    return f"CASE {cases} ELSE {_CAMPAIGN_MOD_MAX} END"


@query(
    "interval_join_campaign_orders",
    oracle=f"""
        WITH msel AS (
            SELECT {_campaign_mod_case()} AS m
            FROM (SELECT COUNT(*) AS n FROM orders)
        ), campaigns AS (
            SELECT o_orderkey AS campaign_id,
                   datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                       AS start_day,
                   datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) + 14
                       AS end_day
            FROM orders, msel WHERE o_orderkey % msel.m = 0
        ), pts AS (
            SELECT o_orderkey,
                   CAST(o_totalprice AS DECIMAL(15,2)) AS price,
                   datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                       AS d
            FROM orders
        )
        SELECT campaign_id,
               CAST(COUNT(*) AS BIGINT) AS n_orders_in_window,
               CAST(SUM(price) AS DOUBLE) AS window_revenue
        FROM campaigns JOIN pts
          ON pts.d >= campaigns.start_day AND pts.d < campaigns.end_day
        GROUP BY campaign_id
        ORDER BY campaign_id
    """,
    description="Pure interval-overlap join with NO equi key — the "
    "shape Spark plans as a BroadcastNestedLoopJoin. "
    "operators/intervals.py buckets both sides by a 16-day width: "
    "points land in one bucket, each 14-day campaign window "
    "replicates into <=2 buckets, and the overlap predicate becomes "
    "a residual on a plain hash join — O(points + matches), not "
    "O(points x intervals). The campaign-sampling modulus scales "
    "with orders count on an integer CASE ladder (constant density: "
    "a fixed modulus under a fixed date domain makes pairs grow "
    "quadratically — exp 1.11 at sf3 before the ladder). "
    "tests/test_plans.py pins the NLJ-free plan; the oracle is the "
    "straight theta join with the same ladder.",
)
def interval_join_campaign_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervals import bucketed_point_interval_join

    orders = load_table(spark, sf_dir, "orders")
    # modulus from a count on the UNPROJECTED source (column-pruned footer
    # scan); a 1-number bounded collect, same contract as the panel pattern
    n_orders = orders.count()
    mod = _CAMPAIGN_MOD_MAX
    for lim, m in _CAMPAIGN_LADDER:
        if n_orders <= lim:
            mod = m
            break
    epoch_day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
    ).cast("long")
    campaigns = orders.filter(F.col("o_orderkey") % mod == 0).select(
        F.col("o_orderkey").alias("campaign_id"),
        epoch_day.alias("start_day"),
        (epoch_day + 14).alias("end_day"),
    )
    pts = orders.select(
        dec("o_totalprice").alias("price"), epoch_day.alias("d")
    )
    joined = bucketed_point_interval_join(
        pts, "d", campaigns, "start_day", "end_day", bucket_width=16
    )
    return (
        joined.groupBy("campaign_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders_in_window"),
            F.sum("price").cast("double").alias("window_revenue"),
        )
        .orderBy("campaign_id")
    )
