"""Wave-78 (round 5): symbolic time-series motifs + postings economics.

* ``timeseries_sax_motifs`` — SAX-style motif discovery made exact:
  daily revenue is symbolized by equal-frequency rank quartiles
  (symbol = (4*(rank-1)) div n — no mean/std floats), 3-day sliding
  words are formed with lead windows, and the top recurring motifs
  are counted — the symbolic-aggregate-approximation pipeline behind
  time-series motif/novelty mining, with the normalization step
  replaced by a rank transform so every engine agrees bit-for-bit.
* ``search_postings_gap_stats`` — inverted-index posting-list
  economics: for the highest-document-frequency terms, the docid-gap
  distribution and the exact varint-encoded size versus raw 8-byte
  ids — the compression arithmetic that decides an index's disk and
  cache footprint. Gaps via per-term lag windows (the per-posting-
  list ordering every index build performs anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

# ------------------------------------------------ SAX motifs

_SAX_TOP = 10


@query(
    "timeseries_sax_motifs",
    oracle=f"""
        WITH daily AS (
            SELECT o_orderdate AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), sym AS (
            SELECT day,
                   (4 * (RANK() OVER (ORDER BY cents, day) - 1))
                       // (COUNT(*) OVER ()) AS s
            FROM daily
        ), words AS (
            SELECT s * 16
                   + LEAD(s, 1) OVER (ORDER BY day) * 4
                   + LEAD(s, 2) OVER (ORDER BY day) AS w
            FROM sym
            QUALIFY LEAD(s, 2) OVER (ORDER BY day) IS NOT NULL
        )
        SELECT CAST(w AS BIGINT) AS motif,
               CAST(COUNT(*) AS BIGINT) AS occurrences
        FROM words GROUP BY w
        ORDER BY occurrences DESC, motif LIMIT {_SAX_TOP}
    """,
    description="SAX-style motif mining over daily revenue, made "
    "hash-exact: symbols are equal-frequency rank quartiles "
    "((4*(rank-1)) div n — the rank transform replaces z-"
    "normalization, so no mean/std floats exist), 3-day sliding "
    "words pack into base-4 integers via lead windows, and the top "
    "recurring motifs are counted — the symbolic compression step "
    "behind time-series motif and novelty detection. At 100 TB the "
    "only fact-scale pass is the day rollup; ranking, leads, and "
    "word counting run on the bounded observed-day spine (the "
    "documented day-grain exception).",
)
def timeseries_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    sym = daily.select(
        "day",
        F.expr(
            "(4 * (rank() over (order by cents, day) - 1))"
            " div (count(*) over ())"
        ).alias("s"),
    )
    w_day = Window.orderBy("day")
    words = (
        sym.select(
            (
                F.col("s") * 16
                + F.lead("s", 1).over(w_day) * 4
                + F.lead("s", 2).over(w_day)
            ).alias("w")
        )
        .filter(F.col("w").isNotNull())
    )
    return (
        words.groupBy(F.col("w").cast("long").alias("motif"))
        .agg(F.count(F.lit(1)).cast("long").alias("occurrences"))
        .orderBy(F.desc("occurrences"), "motif")
        .limit(_SAX_TOP)
    )


# ------------------------------------------- postings gap statistics

_PG_TOP_TERMS = 20


@query(
    "search_postings_gap_stats",
    oracle=f"""
        WITH post AS (
            SELECT DISTINCT term, doc_id FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ) WHERE term <> ''
        ), topt AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM post GROUP BY term
            ORDER BY df DESC, term LIMIT {_PG_TOP_TERMS}
        ), gaps AS (
            SELECT p.term,
                   p.doc_id - LAG(p.doc_id) OVER (
                       PARTITION BY p.term ORDER BY p.doc_id) AS gap
            FROM post p SEMI JOIN topt t ON t.term = p.term
        ), enc AS (
            SELECT term,
                   CAST(1 + CASE WHEN gap >= 128 THEN 1 ELSE 0 END
                          + CASE WHEN gap >= 16384 THEN 1 ELSE 0 END
                          + CASE WHEN gap >= 2097152 THEN 1 ELSE 0 END
                        AS BIGINT) AS vbytes,
                   gap
            FROM gaps WHERE gap IS NOT NULL
        )
        SELECT t.term, t.df,
               CAST(COALESCE(SUM(e.vbytes), 0) + 8 AS BIGINT)
                   AS varint_bytes,
               CAST(t.df * 8 AS BIGINT) AS raw_bytes,
               CAST(MAX(e.gap) AS BIGINT) AS max_gap,
               CAST(((COALESCE(SUM(e.vbytes), 0) + 8) * 1000)
                    // (t.df * 8) AS BIGINT) AS size_permille_of_raw
        FROM topt t LEFT JOIN enc e ON e.term = t.term
        GROUP BY t.term, t.df
        ORDER BY t.df DESC, t.term
    """,
    description="Inverted-index posting-gap economics for the top "
    "document-frequency terms: docid gaps per sorted posting list, "
    "exact varint byte cost per gap (1/2/3/4 bytes at the 2^7/2^14/"
    "2^21 thresholds, plus 8 bytes for the first docid), raw 8-byte "
    "baseline, and the compressed-size permille — the arithmetic "
    "that sizes an index's disk and cache footprint before building "
    "it. At 100 TB: tokenize + distinct is one explode shuffle, the "
    "top-term cut is a partial-agg top-k, and gaps use per-term lag "
    "windows — exactly the per-posting-list ordering an index build "
    "performs anyway, partitioned by term so no global sort exists.",
)
def search_postings_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    topt = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(_PG_TOP_TERMS)
    )
    gaps = (
        post.join(F.broadcast(topt.select("term")), "term", "left_semi")
        .withColumn(
            "gap",
            F.col("doc_id")
            - F.lag("doc_id").over(
                Window.partitionBy("term").orderBy("doc_id")
            ),
        )
        .filter(F.col("gap").isNotNull())
        .withColumn(
            "vbytes",
            (
                1
                + F.when(F.col("gap") >= 128, 1).otherwise(0)
                + F.when(F.col("gap") >= 16384, 1).otherwise(0)
                + F.when(F.col("gap") >= 2097152, 1).otherwise(0)
            ).cast("long"),
        )
    )
    agg = gaps.groupBy("term").agg(
        F.sum("vbytes").alias("vb"), F.max("gap").alias("max_gap")
    )
    return (
        topt.join(agg, "term", "left")
        .select(
            "term",
            "df",
            (F.coalesce(F.col("vb"), F.lit(0)) + 8)
            .cast("long")
            .alias("varint_bytes"),
            (F.col("df") * 8).cast("long").alias("raw_bytes"),
            F.col("max_gap").cast("long").alias("max_gap"),
            F.expr(
                "((coalesce(vb, 0) + 8) * 1000) div (df * 8)"
            )
            .cast("long")
            .alias("size_permille_of_raw"),
        )
        .orderBy(F.desc("df"), "term")
    )
