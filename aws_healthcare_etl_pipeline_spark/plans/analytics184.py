"""Wave-210 (round 6): streaming-sketch surface — the two classic
probabilistic structures a 100 TB pipeline keeps in executor memory,
built FROM SCRATCH with the portable md5 hash family so a SQL engine
can replay every bit, plus the LSH design-knob study.

* ``approx_countmin_sketch_audit`` — a Count-Min sketch (3 rows x 256
  counters) over event users, point-estimated for EVERY key and
  audited against the exact counts: the never-underestimate guarantee
  (violations MUST be 0), the overestimate distribution, and the
  Markov bound coverage. The estimator IS the min over md5-bucketed
  partial counts — one narrow pass + a 768-cell table, the footprint
  story that makes CM the heavy-hitter sketch at scale.

* ``sketch_bloom_fpr_audit`` — a Bloom filter (4096 bits, 3 hashes)
  over one customer segment, probed with every OTHER segment's keys:
  zero false negatives by construction, and the measured false-
  positive count against the (bits_set/m)^k expectation as an exact
  integer floor — the calibration a 100 TB anti-join pre-filter runs
  before trusting bloom pruning.

* ``dedup_lsh_band_row_tradeoff`` — the (bands x rows) S-curve knob:
  the SAME 12-hash minhash signatures banded three ways (2x6, 3x4,
  6x2) over a bounded document panel, counting candidate pairs per
  configuration. More bands = higher recall = more candidates; this
  query measures the actual candidate load each choice buys, which
  is THE cost model input for sizing an LSH dedup at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .llm_dedup import SQL_CORPUS_SHINGLES, perturbed_corpus
from .registry import hex4, query, sql_hex4

# ----------------------------------------------- count-min sketch

CM_W = 256  # counters per row
CM_D = 3  # hash rows


@query(
    "approx_countmin_sketch_audit",
    oracle=f"""
        WITH ev AS (
            SELECT user_id AS k FROM events
        ), truth AS (
            SELECT k, CAST(COUNT(*) AS BIGINT) AS true_n
            FROM ev GROUP BY k
        ), rows_h AS (
            SELECT e.k, j.j,
                   ({sql_hex4(
                       "'cm' || CAST(j.j AS VARCHAR) || ':'"
                       " || CAST(e.k AS VARCHAR)"
                   )}) % {CM_W} AS bucket
            FROM ev e CROSS JOIN (SELECT unnest(range(0, {CM_D})) AS j) j
        ), sketch AS (
            SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM rows_h GROUP BY j, bucket
        ), key_h AS (
            SELECT t.k, t.true_n, j.j,
                   ({sql_hex4(
                       "'cm' || CAST(j.j AS VARCHAR) || ':'"
                       " || CAST(t.k AS VARCHAR)"
                   )}) % {CM_W} AS bucket
            FROM truth t CROSS JOIN (SELECT unnest(range(0, {CM_D})) AS j) j
        ), est AS (
            SELECT k.k, k.true_n, MIN(s.cnt) AS est_n
            FROM key_h k JOIN sketch s
              ON s.j = k.j AND s.bucket = k.bucket
            GROUP BY k.k, k.true_n
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM ev
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               t.n_events,
               CAST(SUM(CASE WHEN est_n < true_n THEN 1 ELSE 0 END)
                    AS BIGINT) AS violations,
               CAST(MAX(est_n - true_n) AS BIGINT) AS max_overestimate,
               CAST(SUM(est_n - true_n) AS BIGINT) AS sum_overestimate,
               CAST(SUM(CASE WHEN est_n = true_n THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN est_n - true_n
                             <= (2 * t.n_events) // {CM_W}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_within_bound
        FROM est CROSS JOIN tot t
        GROUP BY t.n_events
    """,
    description="Count-Min sketch built from scratch (3 md5-hash rows "
    "x 256 counters) over event user traffic, with the point estimate "
    "(min of the 3 bucket counts) audited against exact per-key "
    "counts: the structural never-underestimate guarantee (violations "
    "must be 0), the overestimate max/sum, the exact-hit count, and "
    "coverage of the 2N/W Markov bound — integer throughout. 100 TB "
    "shape: the sketch build is ONE narrow pass aggregated to a "
    "fixed 768-cell table (a map-side-combine dream), and estimation "
    "joins keys to that broadcast-size table — the reason CM is the "
    "heavy-hitter structure when exact per-key state would need a "
    "full shuffle of billions of keys.",
)
def approx_countmin_sketch_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")
    )
    js = F.sequence(F.lit(0), F.lit(CM_D - 1))

    def bucket(jcol: F.Column, kcol: F.Column) -> F.Column:
        return (
            hex4(
                F.concat(
                    F.lit("cm"),
                    jcol.cast("string"),
                    F.lit(":"),
                    kcol.cast("string"),
                )
            )
            % CM_W
        )

    rows_h = ev.select("k", F.explode(js).alias("j")).select(
        "j", bucket(F.col("j"), F.col("k")).alias("bucket")
    )
    sketch = rows_h.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    truth = ev.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    key_h = truth.select(
        "k", "true_n", F.explode(js).alias("j")
    ).withColumn("bucket", bucket(F.col("j"), F.col("k")))
    est = (
        key_h.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("k", "true_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    err = F.col("est_n") - F.col("true_n")
    return (
        est.crossJoin(F.broadcast(tot))
        .groupBy("n_events")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(err < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("violations"),
            F.max(err).cast("bigint").alias("max_overestimate"),
            F.sum(err).cast("bigint").alias("sum_overestimate"),
            F.sum(F.when(err == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
            F.sum(
                F.when(
                    err <= F.expr(f"(2 * n_events) div {CM_W}"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_within_bound"),
        )
        .select(
            "n_keys",
            "n_events",
            "violations",
            "max_overestimate",
            "sum_overestimate",
            "n_exact",
            "n_within_bound",
        )
    )


# ----------------------------------------------- bloom filter FPR

BF_M = 4096  # bits
BF_K = 3  # hash functions


@query(
    "sketch_bloom_fpr_audit",
    oracle=f"""
        WITH members AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ), probes AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment <> 'BUILDING'
        ), hs AS (SELECT unnest(range(0, {BF_K})) AS j),
        bits AS (
            SELECT DISTINCT
                   ({sql_hex4(
                       "'bl' || CAST(hs.j AS VARCHAR) || ':'"
                       " || CAST(m.k AS VARCHAR)"
                   )}) % {BF_M} AS pos
            FROM members m CROSS JOIN hs
        ), probe_hits AS (
            SELECT p.k,
                   SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                       AS hits
            FROM probes p CROSS JOIN hs
            LEFT JOIN bits b
              ON b.pos = ({sql_hex4(
                  "'bl' || CAST(hs.j AS VARCHAR) || ':'"
                  " || CAST(p.k AS VARCHAR)"
              )}) % {BF_M}
            GROUP BY p.k
        ), counts AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members)
                       AS n_members,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM bits)
                       AS n_bits_set,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM probes)
                       AS n_probes,
                   (SELECT CAST(SUM(CASE WHEN hits = {BF_K}
                                         THEN 1 ELSE 0 END) AS BIGINT)
                    FROM probe_hits) AS n_false_pos
        )
        SELECT n_members, n_bits_set, n_probes, n_false_pos,
               CAST((CAST(n_bits_set AS HUGEINT) * n_bits_set
                     * n_bits_set * n_probes)
                    // (CAST({BF_M} AS HUGEINT) * {BF_M} * {BF_M})
                    AS BIGINT) AS expected_fp_floor
        FROM counts
    """,
    description="Bloom filter built from scratch (4096 bits, 3 md5 "
    "hash positions) over the BUILDING customer segment and probed "
    "with every other segment's keys: membership = all 3 positions "
    "set, so false negatives are structurally impossible, and the "
    "measured false-positive count is emitted next to the "
    "(bits_set/m)^k expectation as an exact integer floor "
    "(HUGEINT/DECIMAL38 cross-multiplication — no pow, no doubles). "
    "100 TB shape: the bit set is a DISTINCT over one dimension pass "
    "(broadcast-size result); probing is a map-side lookup — exactly "
    "how engines pre-filter a selective anti-join before paying the "
    "shuffle, and the audit that tells you the filter's real "
    "selectivity before you trust it.",
)
def sketch_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    members = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    probes = cust.filter(F.col("c_mktsegment") != "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    js = F.sequence(F.lit(0), F.lit(BF_K - 1))

    def pos(jcol: F.Column, kcol: F.Column) -> F.Column:
        return (
            hex4(
                F.concat(
                    F.lit("bl"),
                    jcol.cast("string"),
                    F.lit(":"),
                    kcol.cast("string"),
                )
            )
            % BF_M
        )

    bits = (
        members.select(F.explode(js).alias("j"), "k")
        .select(pos(F.col("j"), F.col("k")).alias("pos"))
        .distinct()
    )
    probe_hits = (
        probes.select("k", F.explode(js).alias("j"))
        .withColumn("pos", pos(F.col("j"), F.col("k")))
        .join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("k")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
    )
    n_members = members.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    fp = probe_hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("hits") == BF_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return (
        n_members.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(fp))
        .withColumn(
            "expected_fp_floor",
            F.expr(
                "CAST(CAST(n_bits_set AS DECIMAL(38,0)) * n_bits_set"
                " * n_bits_set * n_probes"
                f" div (CAST({BF_M} AS DECIMAL(38,0)) * {BF_M} * {BF_M})"
                " AS BIGINT)"
            ),
        )
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            "n_false_pos",
            "expected_fp_floor",
        )
    )


# ----------------------------------------- LSH band/row tradeoff

LSH_HASHES = 12
LSH_PANEL = 200
LSH_CONFIGS = [("b2r6", 2, 6), ("b3r4", 3, 4), ("b6r2", 6, 2)]

_LSH_SQL_NUM = (
    "list_reduce(list_transform("
    "string_split_regex(substr(md5(CAST(k AS VARCHAR) || ':' || s), 1, 15),"
    " ''), c -> strpos('0123456789abcdef', c) - 1)::BIGINT[],"
    " (a, b) -> a * 16 + b)"
)


def _lsh_oracle() -> str:
    # per config: band keys are the signature slice rendered to text;
    # candidate pairs = distinct (a < b) sharing ANY band
    union_cfg = []
    for label, b, r in LSH_CONFIGS:
        bands = " UNION ALL ".join(
            f"""SELECT doc_id, {i} AS band,
                   array_to_string(list_slice(sig, {i * r + 1},
                                              {(i + 1) * r}), ',') AS bkey
            FROM panel"""
            for i in range(b)
        )
        union_cfg.append(
            f"""SELECT '{label}' AS config,
                   CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
            FROM (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2
                FROM ({bands}) x JOIN ({bands}) y
                  ON x.band = y.band AND x.bkey = y.bkey
                 AND x.doc_id < y.doc_id
            )"""
        )
    body = " UNION ALL ".join(union_cfg)
    return f"""
        WITH {SQL_CORPUS_SHINGLES},
        pm AS (
            SELECT GREATEST(CAST(FLOOR(COUNT(*) / {LSH_PANEL}.0)
                                 AS BIGINT), 1) AS panel_mod
            FROM sh
        ), panel AS (
            SELECT doc_id,
                   list_transform(range(0, {LSH_HASHES}), k ->
                       list_min(list_transform(shingles,
                                               s -> {_LSH_SQL_NUM})))
                       AS sig
            FROM sh, pm
            WHERE doc_id % pm.panel_mod = 0
        )
        SELECT * FROM ({body})
        ORDER BY config
    """


@query(
    "dedup_lsh_band_row_tradeoff",
    oracle=_lsh_oracle(),
    description="The LSH design knob measured: identical 12-hash "
    "portable minhash signatures banded three ways — 2 bands x 6 "
    "rows, 3x4, 6x2 — over a fixed-size document panel, counting the "
    "DISTINCT candidate pairs each configuration generates. The "
    "S-curve theory (P(candidate) = 1-(1-J^r)^b) says more/shorter "
    "bands buy recall at the cost of candidate volume; this query "
    "measures the actual candidate load, which is THE cost-model "
    "input for sizing an LSH dedup before a 100 TB run — each band "
    "is one shuffle key, so candidate count is shuffle-join output "
    "volume. Signatures compute once behind a checkpoint barrier "
    "(the per-pair lambda re-evaluation trap); the panel keeps the "
    "pair census bounded at any corpus scale.",
)
def dedup_lsh_band_row_tradeoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.text import normalize_text, shingles_from_tokens, tokens
    from ..operators.parallelism import widen

    # count first (column-pruned corpus pass), shingle ONLY the panel
    # — see dedup_minhash_estimator_error for the sf3 rationale
    corpus_n = perturbed_corpus(spark, sf_dir).count()
    panel_mod = max(1, corpus_n // LSH_PANEL)
    panel_docs = widen(
        perturbed_corpus(spark, sf_dir).filter(
            F.col("doc_id") % panel_mod == 0
        ),
        "doc_id",
    ).localCheckpoint(eager=False)
    sh = panel_docs.select(
        "doc_id",
        F.array_distinct(
            shingles_from_tokens(tokens(normalize_text(F.col("text"))), 3)
        ).alias("shingles"),
    )
    mh_num = lambda k, s: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat(k.cast("string"), F.lit(":"), s)), 1, 15
        ),
        16,
        10,
    ).cast("long")
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_HASHES - 1)),
        lambda k: F.array_min(
            F.transform(F.col("shingles"), lambda s: mh_num(k, s))
        ),
    )
    panel = (
        sh.select("doc_id", sig.alias("sig"))
        # barrier: signatures once per doc, never per band pair
        .localCheckpoint(eager=False)
    )
    out = None
    for label, b, r in LSH_CONFIGS:
        bands = panel.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", i * r + j + 1).cast(
                                        "string"
                                    )
                                    for j in range(r)
                                ],
                            ).alias("bkey"),
                        )
                        for i in range(b)
                    ]
                )
            ).alias("bd"),
        ).select("doc_id", "bd.band", "bd.bkey")
        x = bands.select(
            F.col("doc_id").alias("a"), "band", "bkey"
        )
        y = bands.select(
            F.col("doc_id").alias("b2"), "band", "bkey"
        )
        cand = (
            x.join(y, ["band", "bkey"])
            .filter(F.col("a") < F.col("b2"))
            .select("a", "b2")
            .distinct()
        )
        row = cand.agg(
            F.lit(label).alias("config"),
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("config")
