"""Wave-119 (round 5): audio pitch detection + dataloader shuffle
quality audit.

* ``multimodal_audio_pitch_autocorr`` — fundamental-period (pitch)
  detection per audio payload: the autocorrelation
  R(tau) = sum_i s[i]*s[i+tau] over DC-centered samples for lags
  8..32, argmax with smallest-lag tie-break. R values are exact
  int64; the per-lag correlation is computed INSIDE the row with
  higher-order array functions (no shuffle until the per-source
  rollup), then a bounded 25-way explode and two aggregates pick
  the argmax identically in both engines — the classic time-domain
  pitch tracker, shaped for 100 TB of audio.
* ``pipeline_dataloader_shuffle_audit`` — do two training epochs
  see data in genuinely different orders? Epoch orderings are
  md5(epoch || doc) ranks on a fixed-size panel; the Spearman
  footrule distance sum |rank_e1 - rank_e2| between consecutive
  epochs is compared against the null expectation (n^2-1)/3 by
  integer cross-multiplication — a shuffle stuck near 1000
  permille of expectation is healthy, near 0 means epochs repeat
  order (the classic dataloader bug that inflates training loss
  correlation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# --------------------------------------------- pitch autocorr

_LAG_MIN = 8
_LAG_MAX = 32
_LAG_STEP = 2
_DC = 96
_FRAME = 128  # analysis frame: pitch needs a frame, not the payload
_MIN_SAMPLES = 96  # need n > 3 * LAG_MAX for a stable estimate


@query(
    "multimodal_audio_pitch_autocorr",
    oracle=f"""
        WITH smp AS (
            SELECT doc_id, source,
                   list_transform(
                       list_filter(
                           list_transform(
                               list_filter(string_split_regex(text, ''),
                                           c -> c <> ''),
                               c -> ascii(c)),
                           s -> s BETWEEN 32 AND 126),
                       s -> s - {_DC}) AS sc0
            FROM documents
        ), sized AS (
            SELECT doc_id, source,
                   list_slice(sc0, 1, {_FRAME}) AS sc,
                   least(len(sc0), {_FRAME}) AS n
            FROM smp WHERE len(sc0) >= {_MIN_SAMPLES}
        ), lagged AS (
            SELECT doc_id, source, t,
                   CAST(list_sum(list_transform(
                       range(1, n - t + 1),
                       i -> CAST(sc[i] * sc[i + t] AS BIGINT)))
                       AS BIGINT) AS r
            FROM sized,
                 (SELECT unnest(range({_LAG_MIN}, {_LAG_MAX} + 1, {_LAG_STEP}))
                      AS t)
        ), best AS (
            SELECT doc_id, source, MAX(r) AS rmax FROM lagged
            GROUP BY 1, 2
        ), picked AS (
            SELECT l.source, MIN(l.t) AS period
            FROM lagged l JOIN best b
              ON b.doc_id = l.doc_id AND l.r = b.rmax
            GROUP BY l.doc_id, l.source
        )
        SELECT source, CAST(period AS BIGINT) AS period,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM picked GROUP BY 1, 2
        ORDER BY source, period
    """,
    description="Time-domain pitch detection over opaque audio "
    "payloads: autocorrelation R(tau) = sum s[i]*s[i+tau] of DC-"
    "centered samples for 13 candidate lags 8..32 (step 2) over a 128-sample analysis frame (pitch needs a frame, not the payload — and higher-order lambdas run interpreted, so frame x lag count IS the cost model), per-payload argmax with "
    "smallest-lag tie-break (MAX(r) then MIN(t) at the max — the "
    "engine-portable two-aggregate argmax), rolled up to a period "
    "histogram per source. The per-lag correlations are exact int64 "
    "computed INSIDE the row via higher-order array functions; the "
    "only fan-out is the bounded 25-lag explode, and the only "
    "shuffles are the two argmax aggregations at document grain — "
    "the shape that keeps 100 TB of audio a narrow pass (cf. the "
    "frame-energy/VAD/ZCR siblings). Payloads under 96 samples are "
    "excluded by contract.",
)
def multimodal_audio_pitch_autocorr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sc = F.transform(
        F.filter(
            F.transform(
                F.filter(F.split(F.col("text"), ""), lambda c: c != ""),
                F.ascii,
            ),
            lambda s: (s >= 32) & (s <= 126),
        ),
        lambda s: s - _DC,
    )
    sized = (
        docs.select("doc_id", "source", sc.alias("sc0"))
        .where(F.size("sc0") >= _MIN_SAMPLES)
        .select(
            "doc_id",
            "source",
            F.slice("sc0", 1, _FRAME).alias("sc"),
            F.least(F.size("sc0"), F.lit(_FRAME)).alias("n"),
        )
    )
    lagged = sized.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(_LAG_MIN), F.lit(_LAG_MAX), F.lit(_LAG_STEP))
        ).alias("t"),
        "sc",
        "n",
    ).select(
        "doc_id",
        "source",
        "t",
        F.aggregate(
            F.sequence(F.lit(1), F.col("n") - F.col("t")),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc
            + F.element_at("sc", i).cast("bigint")
            * F.element_at("sc", i + F.col("t")).cast("bigint"),
        ).alias("r"),
    ).localCheckpoint(eager=False)  # feeds best AND the argmax join
    best = lagged.groupBy("doc_id").agg(F.max("r").alias("rmax"))
    picked = (
        lagged.join(best, "doc_id")
        .where(F.col("r") == F.col("rmax"))
        .groupBy("doc_id", "source")
        .agg(F.min("t").alias("period"))
    )
    return (
        picked.groupBy("source", "period")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "source", F.col("period").cast("long").alias("period"), "n_docs"
        )
        .orderBy("source", "period")
    )


# ------------------------------------- dataloader shuffle audit


_EPOCHS = 4


@query(
    "pipeline_dataloader_shuffle_audit",
    oracle=f"""
        WITH panel AS (
            SELECT doc_id AS k FROM documents
        ), ranks AS (
            SELECT e.e, k,
                   CAST(ROW_NUMBER() OVER (PARTITION BY e.e ORDER BY
                       {sql_hex8(
                           "'ep:' || CAST(e.e AS VARCHAR) || ':' "
                           "|| CAST(k AS VARCHAR)")}, k)
                       AS BIGINT) AS r
            FROM panel CROSS JOIN
                 (SELECT unnest(range(1, {_EPOCHS} + 1)) AS e) e
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM panel
        ), foot AS (
            SELECT a.e AS epoch_from, a.e + 1 AS epoch_to,
                   CAST(SUM(abs(a.r - b.r)) AS BIGINT) AS footrule
            FROM ranks a JOIN ranks b ON b.k = a.k AND b.e = a.e + 1
            WHERE a.e < {_EPOCHS}
            GROUP BY a.e
        )
        SELECT epoch_from, epoch_to, footrule,
               CAST((n * n - 1) // 3 AS BIGINT) AS expected_footrule,
               CAST(footrule * 3000 // (n * n - 1) AS BIGINT)
                   AS ratio_permille
        FROM foot CROSS JOIN nn
        ORDER BY epoch_from
    """,
    description="Training-dataloader shuffle quality audit: each "
    "epoch orders the corpus by md5(epoch || doc) — the "
    "deterministic per-epoch permutation a reproducible training "
    "pipeline actually uses — and consecutive epochs are compared "
    "by the Spearman footrule sum |rank_e - rank_e+1|, whose null "
    "expectation for independent permutations is (n^2-1)/3; the "
    "integer permille ratio should sit near 1000, and a collapse "
    "toward 0 is the classic 'shuffle forgot the epoch seed' bug "
    "that correlates consecutive epochs and hurts convergence. "
    "Exact integers throughout (cross-multiplied ratio). At 100 TB "
    "the audit runs on rank metadata, not payloads: per-epoch ranks "
    "come from the two-level-carry running count over (epoch, hash) "
    "order minus the (e-1)*n offset — NO per-epoch global window — "
    "while the oracle keeps the textbook ROW_NUMBER form, so the "
    "hash match proves the distributed ranking decomposition.",
)
def pipeline_dataloader_shuffle_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    panel = docs.select(F.col("doc_id").alias("k"))
    nn = panel.agg(F.count(F.lit(1)).cast("long").alias("n"))
    hashed = panel.select(
        "k",
        F.explode(F.sequence(F.lit(1), F.lit(_EPOCHS))).alias("e"),
    ).select(
        "e",
        "k",
        hex8(
            F.concat(
                F.lit("ep:"),
                F.col("e").cast("string"),
                F.lit(":"),
                F.col("k").cast("string"),
            )
        ).alias("hv"),
    )
    # scale-safe per-epoch ranking WITHOUT a per-epoch global window:
    # running count over rows ordered (e, hv, k) via the two-level
    # carry (bucket monotone in that order), then subtract the
    # (e-1)*n offset — each epoch holds exactly n rows
    ranked = distributed_running_total(
        hashed.withColumn(
            "b", F.expr("e * 1099511627776 + hv div 16777216")
        ),
        F.lit(1).cast("bigint"),
        "b",
        ["hv", "k"],
        out_col="c_incl",
        zero=F.lit(0).cast("bigint"),
    )
    ranks = (
        ranked.crossJoin(F.broadcast(nn))
        .select(
            "e",
            "k",
            (F.col("c_incl") - (F.col("e") - 1) * F.col("n"))
            .cast("long")
            .alias("r"),
        )
        .localCheckpoint(eager=False)  # joined against itself
    )
    b = ranks.select(
        (F.col("e") - 1).alias("e"),
        F.col("k"),
        F.col("r").alias("r_next"),
    )
    foot = (
        ranks.where(F.col("e") < _EPOCHS)
        .join(b, ["e", "k"])
        .groupBy("e")
        .agg(
            F.sum(F.abs(F.col("r") - F.col("r_next")))
            .cast("long")
            .alias("footrule")
        )
    )
    return (
        foot.crossJoin(F.broadcast(nn))
        .select(
            F.col("e").alias("epoch_from"),
            (F.col("e") + 1).alias("epoch_to"),
            "footrule",
            F.expr("CAST((n * n - 1) div 3 AS LONG)").alias(
                "expected_footrule"
            ),
            F.expr(
                "CAST(footrule * 3000 div (n * n - 1) AS LONG)"
            ).alias("ratio_permille"),
        )
        .orderBy("epoch_from")
    )
