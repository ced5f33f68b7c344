"""Wave-200 (round 5): the corpus-release scorecard capstone.

``pipeline_release_scorecard_capstone`` — the sign-off sheet a
training-data release actually ships with, computed end to end under
ONE oracle: per document source, (1) exact-duplicate counts from
md5 fingerprints, (2) quality-gate pass rates (token-count band +
mean-token-length cap, the Gopher-style filters), (3) the clean-token
mass and its share of a fixed 1M-token release budget allocated
largest-remainder across sources (conserved to the token), and (4) an
order-free release manifest checksum (sum of md5-derived integers
over the KEPT documents) that changes if any document enters, leaves,
or mutates. Every prior lane — dedup, quality, allocation, digests —
composed into the artifact reviewers actually read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.money import allocate_largest_remainder
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

_RSC_BUDGET = 1_000_000  # release token budget
_RSC_MIN_T, _RSC_MAX_T = 20, 200  # quality band
_RSC_MAXLEN = 12  # mean token length cap


@query(
    "pipeline_release_scorecard_capstone",
    oracle=rf"""
        WITH graded AS MATERIALIZED (
            SELECT source, doc_id,
                   md5(text) AS fp,
                   len(regexp_split_to_array(trim(text), '\s+'))
                       AS n_tok,
                   length(regexp_replace(trim(text), '\s+', '', 'g'))
                       AS n_chars
            FROM documents
        ), marked AS MATERIALIZED (
            SELECT source, doc_id, fp, n_tok,
                   CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp
                        ORDER BY doc_id) > 1 THEN 1 ELSE 0 END
                       AS is_dup,
                   CASE WHEN n_tok >= {_RSC_MIN_T}
                        AND n_tok <= {_RSC_MAX_T}
                        AND n_chars <= {_RSC_MAXLEN} * n_tok
                        THEN 1 ELSE 0 END AS quality_ok
            FROM graded
        ), kept AS (
            SELECT * FROM marked WHERE is_dup = 0 AND quality_ok = 1
        ), per_source AS (
            SELECT m.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(m.is_dup) AS BIGINT) AS n_dups,
                   CAST(SUM(m.quality_ok) AS BIGINT) AS n_quality_ok,
                   CAST(SUM(CASE WHEN m.is_dup = 0
                        AND m.quality_ok = 1 THEN m.n_tok
                        ELSE 0 END) AS BIGINT) AS clean_tokens
            FROM marked m GROUP BY m.source
        ), alloc0 AS (
            SELECT source,
                   ({_RSC_BUDGET} * clean_tokens)
                       // SUM(clean_tokens) OVER () AS base,
                   ({_RSC_BUDGET} * clean_tokens)
                       % SUM(clean_tokens) OVER () AS rem
            FROM per_source
        ), alloc AS (
            SELECT source,
                   base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem
                       DESC, source)
                       <= {_RSC_BUDGET} - SUM(base) OVER ()
                       THEN 1 ELSE 0 END AS budget_tokens
            FROM alloc0
        ), digests AS (
            SELECT source,
                   CAST(SUM({sql_hex8("concat('m:', fp)")})
                       AS BIGINT) AS manifest_checksum
            FROM kept GROUP BY source
        )
        SELECT p.source, p.n_docs, p.n_dups, p.n_quality_ok,
               p.clean_tokens,
               CAST(a.budget_tokens AS BIGINT) AS budget_tokens,
               CAST(p.n_quality_ok * 1000 // p.n_docs AS BIGINT)
                   AS quality_permille,
               d.manifest_checksum
        FROM per_source p
        JOIN alloc a ON a.source = p.source
        JOIN digests d ON d.source = p.source
        ORDER BY p.source
    """,
    description="The corpus-release scorecard, end to end under ONE "
    "oracle: per source — exact-dup counts (md5 fingerprints, "
    "first-doc-wins dedup), Gopher-style quality gates (token band "
    "20..200, mean token length <= 12 enforced as the cross-"
    "multiplied chars <= 12*tokens), clean-token mass, its share of "
    "a fixed 1M-token budget allocated largest-remainder across "
    "sources (conserved to the token), and an order-free manifest "
    "checksum (sum of md5-derived integers over KEPT docs) that "
    "moves if any document enters, leaves, or mutates. This is the "
    "sign-off artifact a training-data release ships with — dedup, "
    "quality, allocation, and integrity lanes composed. 100 TB "
    "shape: one doc-grain pass (fingerprint + counts), one "
    "fingerprint shuffle for dedup, bounded source-grain rollups "
    "and a ~20-row allocation; the checksum is a commutative SUM, "
    "so it partial-aggregates.",
)
def pipeline_release_scorecard_capstone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    graded = docs.selectExpr(
        "source",
        "doc_id",
        "md5(text) AS fp",
        r"size(split(trim(text), '\\s+')) AS n_tok",
        r"length(regexp_replace(trim(text), '\\s+', '')) AS n_chars",
    )
    wd = Window.partitionBy("fp").orderBy("doc_id")
    marked = graded.select(
        "source",
        "doc_id",
        "fp",
        "n_tok",
        F.when(F.row_number().over(wd) > 1, 1).otherwise(0).alias(
            "is_dup"
        ),
        F.expr(
            f"CASE WHEN n_tok >= {_RSC_MIN_T}"
            f" AND n_tok <= {_RSC_MAX_T}"
            f" AND n_chars <= {_RSC_MAXLEN} * n_tok"
            f" THEN 1 ELSE 0 END"
        ).alias("quality_ok"),
    ).localCheckpoint(eager=False)  # per-source rollup + kept lanes
    per_source = marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.sum("quality_ok").cast("long").alias("n_quality_ok"),
        F.sum(
            F.when(
                (F.col("is_dup") == 0) & (F.col("quality_ok") == 1),
                F.col("n_tok"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("clean_tokens"),
    ).localCheckpoint(eager=False)  # alloc + final join
    alloc = allocate_largest_remainder(
        per_source.withColumn("grp", F.lit("all")).withColumn(
            "budget", F.lit(_RSC_BUDGET).cast("long")
        ),
        key="grp",
        weight="clean_tokens",
        total="budget",
        tiebreak="source",
        out="budget_tokens",
    ).select("source", "budget_tokens")
    digests = (
        marked.where(
            (F.col("is_dup") == 0) & (F.col("quality_ok") == 1)
        )
        .groupBy("source")
        .agg(
            F.sum(hex8(F.concat(F.lit("m:"), F.col("fp"))))
            .cast("long")
            .alias("manifest_checksum")
        )
    )
    return (
        per_source.join(F.broadcast(alloc), "source")
        .join(F.broadcast(digests), "source")
        .selectExpr(
            "source",
            "n_docs",
            "n_dups",
            "n_quality_ok",
            "clean_tokens",
            "budget_tokens",
            "CAST(n_quality_ok * 1000 div n_docs AS BIGINT)"
            " AS quality_permille",
            "manifest_checksum",
        )
        .orderBy("source")
    )
