"""Wave-111 (round 5): asymmetric containment dedup + permutation
feature importance.

* ``dedup_containment_asymmetric`` — the near-dup case Jaccard
  misses: document A substantially CONTAINED in a larger B
  (quotes, excerpts, boilerplate wrappers). Containment
  C(A->B) = |sh(A) n sh(B)| / |sh(A)| over word 3-gram shingles,
  candidates generated by an inverted index restricted to
  LOW-DOCUMENT-FREQUENCY shingles (df <= 32) — the df cap bounds
  per-shingle pair fan-out to a constant, making total candidate
  volume linear in corpus size. The cap is part of the similarity
  contract (both engines compute on the identical df-capped
  shingle universe), so results hash exactly.
* ``ml_permutation_feature_importance`` — the standard model-
  agnostic importance measure, made deterministic: a frozen
  integer-weight scorer predicts 1996 purchase activity on a
  fixed-size md5 eval panel, and each feature is "permuted" by
  rotating it one step in md5 order (a pseudorandom bijection both
  engines derive identically). Importance = exact permille
  accuracy drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import SEG_W, hex8, query, sql_hex8

# ------------------------------------------- asymmetric containment

_DF_CAP = 32  # inverted-index df cap: constant pair fan-out per shingle
_C_PERMILLE = 600  # containment report threshold


@query(
    "dedup_containment_asymmetric",
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id, sh
            FROM (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(len(toks) - 2, 0) + 1),
                           i -> concat_ws(' ', toks[i], toks[i+1],
                                          toks[i+2])))) AS sh
                FROM base
            )
        ), df AS (
            SELECT sh, CAST(COUNT(*) AS BIGINT) AS df
            FROM sh GROUP BY sh
        ), rare AS (
            SELECT s.doc_id, s.sh
            FROM sh s JOIN df ON df.sh = s.sh
            WHERE df.df <= {_DF_CAP}
        ), sz AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM rare GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM rare a JOIN rare b
                 ON a.sh = b.sh AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.id_a, p.id_b, p.shared, z.n_sh AS size_a,
               CAST(p.shared * 1000 // z.n_sh AS BIGINT)
                   AS containment_permille
        FROM pairs p JOIN sz z ON z.doc_id = p.id_a
        WHERE p.shared * 1000 >= {_C_PERMILLE} * z.n_sh
        ORDER BY id_a, id_b
    """,
    description="Asymmetric containment dedup — catches a document "
    "CONTAINED in a larger one (excerpts, quoted passages, template "
    "wrappers), where symmetric Jaccard stays low: "
    "C(A->B) = |sh(A) n sh(B)|/|sh(A)| over word 3-gram shingles, "
    "reported in exact integer permille for every directed pair at "
    ">= 0.6. Candidates come from an inverted index over shingles "
    "with document frequency <= 32 — the df cap is part of the "
    "similarity contract (identical in both engines) and is what "
    "makes this scale: per-shingle pair fan-out is bounded by a "
    "constant, so candidate volume grows LINEARLY with the corpus "
    "instead of quadratically, the same reason production "
    "containment dedup (e.g. suffix-array substring dedup "
    "preprocessing) blocks on rare features. Shuffles: one "
    "explode+distinct, one df aggregation, one bounded self-join.",
)
def dedup_containment_asymmetric(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    """transform(
                           sequence(1, greatest(size(toks) - 2, 0)),
                           i -> concat_ws(' ', toks[i-1], toks[i],
                                          toks[i+1]))"""
                )
            )
        ).alias("sh"),
    ).localCheckpoint(eager=False)  # feeds df AND the rare join
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    rare = (
        sh.join(df.where(F.col("df") <= _DF_CAP), "sh")
        .select("doc_id", "sh")
        .localCheckpoint(eager=False)  # feeds sz AND both join sides
    )
    sz = rare.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    a = rare.select(F.col("doc_id").alias("id_a"), "sh")
    b = rare.select(F.col("doc_id").alias("id_b"), "sh")
    pairs = (
        a.join(b, "sh")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        pairs.join(sz.withColumnRenamed("doc_id", "id_a"), "id_a")
        .where(F.col("shared") * 1000 >= _C_PERMILLE * F.col("n_sh"))
        .select(
            "id_a",
            "id_b",
            "shared",
            F.col("n_sh").alias("size_a"),
            F.expr("CAST(shared * 1000 div n_sh AS LONG)").alias(
                "containment_permille"
            ),
        )
        .orderBy("id_a", "id_b")
    )


# -------------------------------------- permutation importance


_PANEL = 2000  # target eval-panel size (fixed regardless of SF)

# Known-truth label: y = 1 iff f1/100 + 10*f2 + md5-noise%4000 > 8000.
# The frozen "model" is a miscalibrated copy of that truth (threshold
# 10000, no noise) — so permuting the dominant feature f1 MUST drop
# accuracy sharply while permuting the weak f2 must not; the query is
# the audit that the importance measure detects exactly that.
_TRUTH = "f1 div 100 + f2 * 10 + noise > 8000"
_TRUTH_SQL = "f1 // 100 + f2 * 10 + noise > 8000"


@query(
    "ml_permutation_feature_importance",
    oracle=f"""
        WITH feat AS (
            SELECT c_custkey AS k,
                   CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100
                        AS BIGINT) AS f1,
                   CAST({SEG_W} AS BIGINT) AS f2,
                   ({sql_hex8("'noise:' || CAST(c_custkey AS VARCHAR)")})
                       % 4000 AS noise
            FROM customer
        ), lab AS (
            SELECT k, f1, f2,
                   CASE WHEN {_TRUTH_SQL} THEN 1 ELSE 0 END AS y
            FROM feat
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab
        ), panel AS (
            SELECT k, f1, f2, y,
                   CAST(ROW_NUMBER() OVER (ORDER BY
                       {sql_hex8("'pfi:' || CAST(k AS VARCHAR)")}, k)
                       AS BIGINT) AS r
            FROM lab CROSS JOIN nn
            WHERE k % greatest(1, n // {_PANEL}) = 0
        ), np AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM panel
        ), keyed AS (
            SELECT p.*, (p.r % np.n) + 1 AS r_to
            FROM panel p CROSS JOIN np
        ), rot AS (
            SELECT p.f1, p.f2, p.y, q1.f1 AS f1_rot, q1.f2 AS f2_rot
            FROM keyed p JOIN panel q1 ON q1.r = p.r_to
        ), acc AS (
            SELECT
              CAST(SUM(CASE WHEN (f1 // 100 + f2 * 10 > 10000) = (y = 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS base_ok,
              CAST(SUM(CASE WHEN (f1_rot // 100 + f2 * 10 > 10000) = (y = 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS f1_ok,
              CAST(SUM(CASE WHEN (f1 // 100 + f2_rot * 10 > 10000) = (y = 1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS f2_ok,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM rot
        )
        SELECT feature, base_correct, perm_correct, n_panel,
               CAST((base_correct - perm_correct) * 1000 // n_panel
                    AS BIGINT) AS importance_permille
        FROM (
            SELECT 'acctbal' AS feature, base_ok AS base_correct,
                   f1_ok AS perm_correct, n AS n_panel FROM acc
            UNION ALL
            SELECT 'mktsegment', base_ok, f2_ok, n FROM acc
        ) ORDER BY feature
    """,
    description="Permutation feature importance — the model-agnostic "
    "standard — as a deterministic audit with KNOWN truth: the label "
    "is a planted function of the features plus md5 noise, the "
    "frozen integer scorer is a miscalibrated copy of that truth, "
    "so the measure MUST rank the dominant feature (balance) far "
    "above the weak one (segment) — and it does, reproducibly, "
    "because 'permutation' is a one-step rotation along the md5 "
    "ordering of the panel (a pseudorandom bijection both engines "
    "derive identically — no RNG anywhere). Importance is the exact "
    "permille accuracy drop. Runs on the repo's fixed-size eval-"
    "panel pattern (k % greatest(1, n div 2000) = 0), so the "
    "rotation join and panel windows stay bounded at ANY data "
    "volume; the fact-scale work is one narrow feature projection. "
    "This is how importance is audited in production: frozen model, "
    "sampled panel, deterministic replay.",
)
def ml_permutation_feature_importance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    feat = customer.select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal").cast("decimal(15,2)") * 100)
        .cast("long")
        .alias("f1"),
        F.expr(SEG_W).cast("long").alias("f2"),
        (
            hex8(F.concat(F.lit("noise:"), F.col("c_custkey").cast("string")))
            % 4000
        ).alias("noise"),
    )
    lab = feat.select(
        "k",
        "f1",
        "f2",
        F.when(F.expr(_TRUTH), 1).otherwise(0).alias("y"),
    )
    nn = lab.agg(F.count(F.lit(1)).cast("long").alias("n"))
    panel = (
        lab.crossJoin(F.broadcast(nn))
        .where(
            F.col("k") % F.greatest(F.lit(1), F.expr(f"n div {_PANEL}"))
            == 0
        )
        .select(
            "k",
            "f1",
            "f2",
            "y",
            F.row_number()
            .over(
                Window.orderBy(
                    hex8(F.concat(F.lit("pfi:"), F.col("k").cast("string"))),
                    "k",
                )
            )
            .cast("long")
            .alias("r"),
        )
        .localCheckpoint(eager=False)  # bounded panel, reused twice
    )
    np_ = panel.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rot = (
        panel.crossJoin(F.broadcast(np_))
        .withColumn("r_to", (F.col("r") % F.col("n")) + 1)
        .join(
            panel.select(
                F.col("r").alias("r_to"),
                F.col("f1").alias("f1_rot"),
                F.col("f2").alias("f2_rot"),
            ),
            "r_to",
        )
    )
    model = F.expr("f1 div 100") + F.col("f2") * 10 > 10000
    model_f1 = F.expr("f1_rot div 100") + F.col("f2") * 10 > 10000
    model_f2 = F.expr("f1 div 100") + F.col("f2_rot") * 10 > 10000
    truth = F.col("y") == 1
    acc = rot.agg(
        F.sum(F.when(model == truth, 1).otherwise(0))
        .cast("long")
        .alias("base_ok"),
        F.sum(F.when(model_f1 == truth, 1).otherwise(0))
        .cast("long")
        .alias("f1_ok"),
        F.sum(F.when(model_f2 == truth, 1).otherwise(0))
        .cast("long")
        .alias("f2_ok"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    rows = acc.select(
        F.lit("acctbal").alias("feature"),
        F.col("base_ok").alias("base_correct"),
        F.col("f1_ok").alias("perm_correct"),
        F.col("n").alias("n_panel"),
    ).unionAll(
        acc.select(
            F.lit("mktsegment").alias("feature"),
            F.col("base_ok").alias("base_correct"),
            F.col("f2_ok").alias("perm_correct"),
            F.col("n").alias("n_panel"),
        )
    )
    return rows.select(
        "feature",
        "base_correct",
        "perm_correct",
        "n_panel",
        F.expr(
            "CAST((base_correct - perm_correct) * 1000 div n_panel AS LONG)"
        ).alias("importance_permille"),
    ).orderBy("feature")
