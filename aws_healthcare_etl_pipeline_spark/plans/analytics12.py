"""Wave-18: curation + layout operators — PII redaction, linear-
interpolation gap fill, MATCH_RECOGNIZE-lite event patterns, and a
Z-ordered layout round-trip.

Oracle strategy notes:
- Regexes stay inside the Java-regex ∩ RE2 common subset (char
  classes, +, {m,n}, alternation — no lookaround, no backrefs) so
  Spark and DuckDB match identically.
- The interpolation arithmetic is written as the SAME double
  expression tree in both engines (anchor + delta * (gap/span)), so
  IEEE evaluation is bit-identical.
- The pattern query reduces each user's history to a type-initial
  string deterministically ordered by (ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import dsum, query, scratch

# Java-regex ∩ RE2 subset (no lookaround/backrefs); single-quoted into
# the oracle SQL, so no quote characters inside.
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_PHONE = r"\+1-555-[0-9]{4}"
RE_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
RE_URL = r"https?://[^ ]+"


@query(
    "text_pii_redaction",
    oracle=f"""
        WITH salted AS (
            SELECT doc_id, lang,
                   text || ' Contact user' || doc_id ||
                   '@example.org or +1-555-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                   ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                   CAST((doc_id * 7) % 256 AS VARCHAR) ||
                   '.9 via https://ex.org/u/' || CAST(doc_id AS VARCHAR)
                       AS t
            FROM documents
        ), redacted AS (
            SELECT doc_id, lang, t,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t, '{RE_EMAIL}', '<EMAIL>', 'g'),
                         '{RE_URL}', '<URL>', 'g'),
                       '{RE_IP}', '<IP>', 'g'),
                     '{RE_PHONE}', '<PHONE>', 'g') AS clean,
                   len(regexp_extract_all(t, '{RE_EMAIL}')) AS n_email,
                   len(regexp_extract_all(t, '{RE_PHONE}')) AS n_phone
            FROM salted
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
               CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
               CAST(SUM(length(t)) AS BIGINT) AS chars_before,
               CAST(SUM(length(clean)) AS BIGINT) AS chars_after
        FROM redacted
        GROUP BY lang
        ORDER BY lang
    """,
    description="PII redaction sweep (emails, phones, IPs, URLs -> "
    "typed placeholders): deterministic synthetic PII is appended from "
    "doc_id so both engines scrub identical text; per-language counts "
    "prove every pattern fired. All four passes are chained "
    "regexp_replace — one projection, no UDF, order chosen so no "
    "pattern can match another's placeholder output.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(".9 via https://ex.org/u/"),
            F.col("doc_id").cast("string"),
        ),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), RE_EMAIL, "<EMAIL>"),
                RE_URL,
                "<URL>",
            ),
            RE_IP,
            "<IP>",
        ),
        RE_PHONE,
        "<PHONE>",
    )
    redacted = salted.select(
        "lang",
        F.col("t"),
        clean.alias("clean"),
        F.regexp_count(F.col("t"), F.lit(RE_EMAIL)).alias("n_email"),
        F.regexp_count(F.col("t"), F.lit(RE_PHONE)).alias("n_phone"),
    )
    return (
        redacted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_phone").alias("phones_redacted"),
            F.sum(F.length("t")).alias("chars_before"),
            F.sum(F.length("clean")).alias("chars_after"),
        )
        .orderBy("lang")
    )


@query(
    "gapfill_linear_interp",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                       AS rev
            FROM orders
            WHERE o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
            GROUP BY 1
        ), gapped AS (
            SELECT * FROM daily WHERE day(d) % 3 <> 0
        ), cal AS (
            SELECT UNNEST(generate_series(
                       (SELECT MIN(d) FROM gapped),
                       (SELECT MAX(d) FROM gapped),
                       INTERVAL 1 DAY))::DATE AS d
        ), joined AS (
            SELECT cal.d, gapped.rev FROM cal LEFT JOIN gapped USING (d)
        ), anchored AS (
            SELECT d, rev,
                   last_value(rev IGNORE NULLS) OVER
                     (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rev,
                   last_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS) OVER
                     (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
                   first_value(rev IGNORE NULLS) OVER
                     (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rev,
                   first_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS) OVER
                     (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
            FROM joined
        )
        SELECT d::TIMESTAMP AS d,
               CASE WHEN rev IS NOT NULL THEN rev
                    WHEN prev_rev IS NULL THEN next_rev
                    WHEN next_rev IS NULL THEN prev_rev
                    ELSE prev_rev + (next_rev - prev_rev) *
                         (CAST(datediff('day', prev_d, d) AS DOUBLE) /
                          CAST(datediff('day', prev_d, next_d) AS DOUBLE))
               END AS rev_filled,
               rev IS NULL AS interpolated
        FROM anchored
        ORDER BY d
    """,
    description="Gap-fill with LINEAR interpolation (not just ffill): "
    "a daily revenue series with every third day knocked out is "
    "rebuilt over a sequence() calendar; missing days get "
    "prev + (next-prev)*(gap/span) from ignore-nulls window anchors, "
    "edges fall back to the nearest anchor. The arithmetic is the "
    "same double expression tree in both engines, so values are "
    "bit-identical. One window sort — the series is already "
    "date-partitionable at scale (partition by series key).",
)
def gapfill_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp")
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        dsum("o_totalprice").alias("rev")
    )
    gapped = daily.filter(F.dayofmonth("d") % 3 != 0)
    lo_hi = gapped.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = lo_hi.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    joined = cal.join(gapped, "d", "left")

    back = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    fwd = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    rev_d = F.when(F.col("rev").isNotNull(), F.col("d"))
    anchored = joined.select(
        "d",
        "rev",
        F.last("rev", ignorenulls=True).over(back).alias("prev_rev"),
        F.last(rev_d, ignorenulls=True).over(back).alias("prev_d"),
        F.first("rev", ignorenulls=True).over(fwd).alias("next_rev"),
        F.first(rev_d, ignorenulls=True).over(fwd).alias("next_d"),
    )
    interp = F.col("prev_rev") + (F.col("next_rev") - F.col("prev_rev")) * (
        F.datediff("d", "prev_d").cast("double")
        / F.datediff("next_d", "prev_d").cast("double")
    )
    return anchored.select(
        F.col("d").cast("timestamp").alias("d"),
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .when(F.col("prev_rev").isNull(), F.col("next_rev"))
        .when(F.col("next_rev").isNull(), F.col("prev_rev"))
        .otherwise(interp)
        .alias("rev_filled"),
        F.col("rev").isNull().alias("interpolated"),
    ).orderBy("d")


@query(
    "pattern_event_sequences",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   string_agg(CASE event_type
                                WHEN 'click' THEN 'c'
                                WHEN 'view' THEN 'v'
                                WHEN 'purchase' THEN 'p'
                                WHEN 'signup' THEN 's'
                                ELSE 'e' END,
                              '' ORDER BY ts, event_id) AS s
            FROM events
            GROUP BY user_id
        )
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(SUM(CASE WHEN regexp_matches(s, 'c[ve]*p') THEN 1 ELSE 0 END)
                 AS BIGINT) AS quick_converters,
            CAST(SUM(CASE WHEN regexp_matches(s, 'c[^p]*$') THEN 1 ELSE 0 END)
                 AS BIGINT) AS final_abandoners,
            CAST(SUM(CASE WHEN regexp_matches(s, 'ee') THEN 1 ELSE 0 END)
                 AS BIGINT) AS error_streak_users,
            CAST(SUM(CASE WHEN regexp_matches(s, '^s') THEN 1 ELSE 0 END)
                 AS BIGINT) AS signup_first_users
        FROM seq
    """,
    description="MATCH_RECOGNIZE-lite: each user's event history "
    "collapses to a type-initial string (deterministic (ts, event_id) "
    "order), and row-pattern predicates become plain regexes — "
    "click->purchase with only views/errors between, click never "
    "followed by purchase, error streaks, signup-first. One groupBy "
    "shuffle; per-user history strings stay small (bounded by events "
    "per user), and the regex battery is a single projection.",
)
def pattern_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    initial = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = (
        events.select("user_id", F.struct("ts", "event_id").alias("k"), initial.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("k"), F.col("ch")))),
                    lambda x: x.getField("ch"),
                ),
            ).alias("s")
        )
    )
    flag = lambda pat: F.sum(F.col("s").rlike(pat).cast("long"))  # noqa: E731
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        flag("c[ve]*p").alias("quick_converters"),
        flag("c[^p]*$").alias("final_abandoners"),
        flag("ee").alias("error_streak_users"),
        flag("^s").alias("signup_first_users"),
    )


@query(
    "layout_zorder_box_query",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_totalprice BETWEEN 100000 AND 200000
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    description="Z-order layout round-trip: orders is rewritten "
    "clustered by the Morton interleave of (o_totalprice, epoch-day), "
    "then a 2-D box query runs against the re-laid files and must "
    "return exactly what the raw table returns. The layout operator "
    "is operators/layout.py (quantize -> bit-interleave -> "
    "repartitionByRange -> sortWithinPartitions); "
    "tests/test_layout.py proves footer-level file skipping on BOTH "
    "dimensions. At 100 TB this is the difference between scanning "
    "files overlapping the box and scanning everything.",
)
def layout_zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import write_zordered

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_epoch_day",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")),
    )
    base = scratch(prefix="zorder_")
    write_zordered(orders, base, "o_totalprice", "o_epoch_day", n_files=16)
    zread = spark.read.parquet(base)
    return zread.filter(
        (F.col("o_totalprice") >= 100000)
        & (F.col("o_totalprice") <= 200000)
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
