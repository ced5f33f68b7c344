"""Wave-30: entity-grain running total via the two-level decomposition
(operators/cumsum.py) — the scale-safe replacement for the global
ordered window, proven equal to the textbook form by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cumsum import distributed_running_total
from ..operators.dedup import (
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_portable,
)
from ..sources.tables import load_table
from .llm_dedup import (
    SQL_SIMHASH_SIG,
    _sql_corpus_shingles,
    _sql_jaccard_pairs,
    perturbed_corpus,
)
from .registry import dec, query


@query(
    "orders_running_total_distributed",
    oracle="""
        SELECT o_orderkey,
               o_orderdate::TIMESTAMP AS o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER (
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_revenue
        FROM orders
        ORDER BY o_orderdate, o_orderkey
    """,
    description="Global running revenue over EVERY order row (the "
    "order grain — 150k rows at sf0.1, 1.5B at sf1000) computed "
    "WITHOUT a global-window sort: month-bucket partial sums -> "
    "exclusive prefix over the ~80-row month spine -> "
    "month-partitioned within-bucket running windows -> broadcast "
    "carry-in add (operators/cumsum.py). The oracle is the textbook "
    "single-window form, so the hash match PROVES the decomposition "
    "equals it bit-for-bit (exact decimal partials are associative; "
    "(o_orderdate, o_orderkey) makes the order total). The only "
    "unpartitioned window in the plan runs on the month-grain "
    "aggregate — pinned by tests/test_plans.py — which is the "
    "difference between one task sorting 1.5B rows and 80-way "
    "parallel per-month sorts at 100 TB.",
)
def orders_running_total_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        dec("o_totalprice").alias("_v"),
        F.date_trunc("month", "o_orderdate").alias("_month"),
    )
    out = distributed_running_total(
        orders,
        value=F.col("_v"),
        bucket_col="_month",
        order_cols=["o_orderdate", "o_orderkey"],
        out_col="_running",
    )
    return out.select(
        "o_orderkey",
        "o_orderdate",
        F.col("_running").cast("double").alias("running_revenue"),
    ).orderBy("o_orderdate", "o_orderkey")


AGREE_J = 0.8  # exact-Jaccard ground-truth threshold
AGREE_HAMMING = 3  # simhash radius (exact by pigeonhole at <= 3)
AGREE_PANEL_DOCS = 2500  # precision eval panel target size (docs)


@query(
    "dedup_method_agreement",
    oracle=f"""
        WITH {_sql_corpus_shingles(5)},
        {SQL_SIMHASH_SIG},
        truth AS (
            SELECT id_a, id_b FROM ({_sql_jaccard_pairs(AGREE_J, lang_blocked=False)})
        ), truth_stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
                   CAST(COALESCE(SUM(CASE WHEN bit_count(xor(sa.simhash,
                                                             sb.simhash))
                                               <= {AGREE_HAMMING}
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS tp_truth
            FROM truth t
            JOIN sig sa ON t.id_a = sa.doc_id
            JOIN sig sb ON t.id_b = sb.doc_id
        ), pm AS (
            SELECT GREATEST(CAST(FLOOR(COUNT(*) / {AGREE_PANEL_DOCS}.0)
                                 AS BIGINT), 1) AS panel_mod
            FROM corpus
        ), panel AS (
            SELECT s.doc_id, s.simhash
            FROM sig s, pm WHERE s.doc_id % pm.panel_mod = 0
        ), panel_docs AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_panel_docs FROM panel
        ), pred AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM panel a JOIN panel b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {AGREE_HAMMING}
        ), pred_stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pred_panel,
                   CAST(COALESCE(SUM(CASE WHEN t.id_a IS NOT NULL
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS tp_panel
            FROM pred p
            LEFT JOIN truth t ON p.id_a = t.id_a AND p.id_b = t.id_b
        )
        SELECT n_truth, tp_truth,
               CAST(tp_truth AS DOUBLE)
                   / CAST(GREATEST(n_truth, 1) AS DOUBLE) AS recall_,
               n_panel_docs, n_pred_panel, tp_panel,
               CAST(tp_panel AS DOUBLE)
                   / CAST(GREATEST(n_pred_panel, 1) AS DOUBLE)
                   AS precision_panel
        FROM truth_stats, panel_docs, pred_stats
    """,
    description="Dedup-method evaluation harness, restructured (r5) "
    "to the shape that survives a corpus whose SimHash prediction set "
    "is itself quadratic: RECALL is exact and linear — the (small) "
    "exact 5-gram-Jaccard truth set (the unsaturated shingle order, "
    "see dedup_ngram_jaccard_pairs) probes the full-corpus 60-bit portable "
    "signatures directly (two hash joins + bit_count, never the "
    f"banded self-join), tp_truth / n_truth at hamming <= {AGREE_HAMMING}; "
    "PRECISION is measured on a bounded deterministic eval panel — "
    f"panel_mod = max(1, floor(n_docs / {AGREE_PANEL_DOCS})), keep "
    "doc_id % panel_mod = 0 — so the only pair-set ever materialized "
    f"is over ~{AGREE_PANEL_DOCS} docs REGARDLESS of corpus size (a "
    "uniform pair sample at rate 1/panel_mod^2, the standard "
    "fixed-size eval-panel estimator). The r4 form materialized the "
    "full prediction set: 1.05M pairs at sf0.1 and growing "
    "quadratically, which is exactly what a 100 TB owner cannot do; "
    "measuring the method on a panel is what they actually run. Both "
    "engines compute the identical panel (integer modulus on doc_id), "
    "banded blocking stays exact at this radius (pigeonhole), and "
    "the two metric divisions are the only doubles. Single-row "
    "output.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = perturbed_corpus(spark, sf_dir)
    sigs = corpus.select(
        "doc_id", simhash_portable(F.col("text")).alias("simhash")
    )
    truth = ngram_jaccard_pairs(
        corpus, "text", "doc_id", block_cols=[], shingle_size=5,
        threshold=AGREE_J,
    ).select("id_a", "id_b")
    truth_stats = (
        truth.join(
            sigs.select(
                F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b")
            ),
            "id_b",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.coalesce(
                F.sum(
                    (
                        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                        <= AGREE_HAMMING
                    ).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tp_truth"),
        )
    )
    pm = corpus.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / F.lit(float(AGREE_PANEL_DOCS))).cast(
                "bigint"
            ),
            F.lit(1).cast("bigint"),
        ).alias("panel_mod")
    )
    panel = (
        corpus.crossJoin(F.broadcast(pm))
        .filter(F.col("doc_id") % F.col("panel_mod") == 0)
        .select("doc_id", "text", "lang")
    )
    panel_docs = panel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_panel_docs")
    )
    pred = simhash_near_duplicates(
        panel, "text", "doc_id", max_hamming=AGREE_HAMMING
    ).select("id_a", "id_b")
    pred_stats = (
        pred.join(
            truth.withColumn("is_t", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pred_panel"),
            F.coalesce(F.sum("is_t"), F.lit(0))
            .cast("bigint")
            .alias("tp_panel"),
        )
    )
    return (
        truth_stats.crossJoin(F.broadcast(panel_docs))
        .crossJoin(F.broadcast(pred_stats))
        .select(
            "n_truth",
            "tp_truth",
            (
                F.col("tp_truth").cast("double")
                / F.greatest(F.col("n_truth"), F.lit(1)).cast("double")
            ).alias("recall_"),
            "n_panel_docs",
            "n_pred_panel",
            "tp_panel",
            (
                F.col("tp_panel").cast("double")
                / F.greatest(F.col("n_pred_panel"), F.lit(1)).cast("double")
            ).alias("precision_panel"),
        )
    )


HIST_MOD = 10  # doc_id % 10 < 8 -> historical corpus, else incoming batch


@query(
    "pipeline_incremental_dedup",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id, lang,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fp,
                   CASE WHEN doc_id % {HIST_MOD} < 8 THEN 1 ELSE 0 END
                       AS is_hist
            FROM documents
        ), hist AS (
            SELECT DISTINCT fp FROM fp WHERE is_hist = 1
        ), incoming AS (
            SELECT doc_id, lang, fp.fp AS fp FROM fp WHERE is_hist = 0
        ), cross_deduped AS (
            SELECT i.* FROM incoming i
            WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = i.fp)
        ), kept AS (
            SELECT lang, fp, MIN(doc_id) AS keeper
            FROM cross_deduped GROUP BY lang, fp
        )
        SELECT i.lang,
               COUNT(*) AS n_incoming,
               COUNT(*) - COUNT(c.doc_id) AS n_dup_vs_history,
               CAST(COUNT(c.doc_id) AS BIGINT)
                   - (SELECT COUNT(*) FROM kept k WHERE k.lang = i.lang)
                   AS n_dup_within,
               (SELECT COUNT(*) FROM kept k WHERE k.lang = i.lang)
                   AS n_kept
        FROM incoming i
        LEFT JOIN cross_deduped c ON c.doc_id = i.doc_id
        GROUP BY i.lang
        ORDER BY i.lang
    """,
    description="Incremental ingestion dedup — the shape a 100 TB "
    "pipeline actually runs daily: the NEW batch (2 of 10 id-hash "
    "shards here) is anti-joined against the HISTORICAL fingerprint "
    "set (16-byte md5 keys only — history's text is never rescanned), "
    "then deduplicated within-batch by min-doc_id-wins. Reports per "
    "lang: incoming, dropped-vs-history, dropped-within, kept. The "
    "anti-join shuffles fingerprints, not documents; at production "
    "scale the history fingerprint table is bucketed by fp so the "
    "daily batch joins with zero history shuffle (sources/bucketing "
    "pattern). Counts are exact integers.",
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", fingerprint_md5(F.col("text")).alias("fp")
    )
    hist = docs.filter(F.col("doc_id") % HIST_MOD < 8).select("fp").distinct()
    incoming = docs.filter(F.col("doc_id") % HIST_MOD >= 8)
    cross = incoming.join(hist, "fp", "left_anti")
    kept = cross.groupBy("lang", "fp").agg(F.min("doc_id").alias("keeper"))
    per_lang_kept = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    per_lang_cross = cross.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_cross")
    )
    per_lang_in = incoming.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_incoming")
    )
    return (
        per_lang_in.join(per_lang_cross, "lang", "left")
        .join(per_lang_kept, "lang", "left")
        .select(
            "lang",
            "n_incoming",
            (F.col("n_incoming") - F.coalesce("n_cross", F.lit(0))).alias(
                "n_dup_vs_history"
            ),
            (
                F.coalesce("n_cross", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).cast("bigint").alias("n_dup_within"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("lang")
    )


KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    parts = ["""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY pa, pb HAVING COUNT(*) >= 2
        )"""]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f""", d{r} AS (
            SELECT node, COUNT(*) AS c FROM (
                SELECT pa AS node FROM e{r-1}
                UNION ALL SELECT pb FROM e{r-1}
            ) GROUP BY node
        ), a{r} AS (
            SELECT node FROM d{r} WHERE c >= {KCORE_K}
        ), e{r} AS (
            SELECT pa, pb FROM e{r-1}
            WHERE pa IN (SELECT node FROM a{r})
              AND pb IN (SELECT node FROM a{r})
        )""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, "
        f"(SELECT COUNT(*) FROM a{r}) AS n_nodes, "
        f"(SELECT COUNT(*) FROM e{r}) AS n_edges"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return "".join(parts) + " " + selects + " ORDER BY round"


@query(
    "graph_kcore_rounds",
    oracle=_kcore_oracle(),
    description=f"k-core peeling (k={KCORE_K}, {KCORE_ROUNDS} unrolled "
    "rounds) on the part co-purchase graph (support >= 2 edges from "
    "basket self-joins): each round drops nodes below degree k and "
    "the edges they carried, reporting (round, surviving nodes, "
    "surviving edges). The iterative-peeling shape that complements "
    "pagerank (fixed-point value iteration) and connected components "
    "(pointer jumping) in the graph tier: per round one node-keyed "
    "degree aggregate + two semi-join edge filters — no global "
    "structure on the driver, and the unrolled oracle proves every "
    "round's frontier exactly. Production form loops until "
    "fixpoint with localCheckpoint per round (operators/pagerank.py "
    "pattern); the fixed unroll keeps the SQL oracle expressible.",
)
def graph_kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )
    summaries = []
    e = edges
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("pa").alias("node"))
            .unionAll(e.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        alive = deg.filter(F.col("c") >= KCORE_K).select("node")
        # Eager per-round checkpoint: e feeds the next round's degree
        # aggregate (2 refs via the union), its own semi-filters and
        # the per-round edge count, so the unrolled plan grew ~3^k
        # (440 Exchanges / 345 KB of plan text at 3 rounds — r11 plan
        # pin) and every summary branch re-derived the basket self-
        # join. The surviving edge list only shrinks round over
        # round; one small job per round keeps the plan O(1).
        e = (
            e.join(alive.withColumnRenamed("node", "pa"), "pa", "left_semi")
            .join(alive.withColumnRenamed("node", "pb"), "pb", "left_semi")
            .localCheckpoint(eager=True)
        )
        summaries.append(
            alive.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
                e.agg(F.count(F.lit(1)).alias("n_edges"))
            ).select(F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges")
        )
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")


@query(
    "orders_cohort_ltv_triangle",
    oracle="""
        WITH first_month AS (
            SELECT o_custkey,
                   MIN(date_trunc('month', o_orderdate)) AS cohort
            FROM orders GROUP BY o_custkey
        ), facts AS (
            SELECT f.cohort,
                   (year(o.o_orderdate) - year(f.cohort)) * 12
                       + (month(o.o_orderdate) - month(f.cohort)) AS age,
                   CAST(o.o_totalprice AS DECIMAL(15,2)) AS rev
            FROM orders o JOIN first_month f ON o.o_custkey = f.o_custkey
        ), cells AS (
            SELECT cohort, age,
                   SUM(rev) AS rev_m,
                   COUNT(*) AS n_orders
            FROM facts GROUP BY cohort, age
        )
        SELECT cohort::TIMESTAMP AS cohort, CAST(age AS INT) AS age,
               CAST(n_orders AS BIGINT) AS n_orders,
               CAST(rev_m AS DOUBLE) AS month_revenue,
               CAST(SUM(rev_m) OVER (
                   PARTITION BY cohort ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS cumulative_revenue
        FROM cells
        ORDER BY cohort, age
    """,
    description="Customer-lifetime-value triangle: customers cohort by "
    "first-order month, every order lands in a (cohort, age-in-months) "
    "cell, and cumulative revenue accrues along each cohort's row — "
    "the table every growth/finance review reads. Plan: first-month "
    "is one partial-agg shuffle on custkey joined back (hash join on "
    "the key, no window); the heavy frame reduces to the bounded "
    "(cohort x age) grid (~80x80 cells at any data size) BEFORE the "
    "cumulative window runs, so the ordered window touches the grid, "
    "never order rows — the reduce-then-window grammar. Exact "
    "decimal sums throughout; the cumulative is a decimal sum cast "
    "once to double.",
)
def orders_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first_month = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    facts = orders.join(first_month, "o_custkey").select(
        "cohort",
        (
            (F.year("o_orderdate") - F.year("cohort")) * 12
            + (F.month("o_orderdate") - F.month("cohort"))
        ).alias("age"),
        dec("o_totalprice").alias("rev"),
    )
    cells = facts.groupBy("cohort", "age").agg(
        F.sum("rev").alias("rev_m"), F.count(F.lit(1)).alias("n_orders")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.select(
            "cohort",
            F.col("age").cast("int").alias("age"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("rev_m").cast("double").alias("month_revenue"),
            F.sum("rev_m").over(w).cast("double").alias("cumulative_revenue"),
        )
        .orderBy("cohort", "age")
    )


@query(
    "supplier_hhi_by_part_type",
    oracle="""
        WITH rev AS (
            SELECT p.p_type, l.l_suppkey,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_type, l.l_suppkey
        ), tot AS (
            SELECT p_type, SUM(cents) AS total_cents FROM rev GROUP BY p_type
        ), shares AS (
            SELECT r.p_type,
                   (r.cents * 1000000) // t.total_cents AS ppm
            FROM rev r JOIN tot t ON r.p_type = t.p_type
        )
        SELECT p_type,
               COUNT(*) AS n_suppliers,
               CAST(MAX(ppm) AS BIGINT) AS top_share_ppm,
               CAST(SUM(ppm * ppm) AS DOUBLE) / 1000000000000.0 AS hhi
        FROM shares
        GROUP BY p_type
        ORDER BY p_type
    """,
    description="Herfindahl-Hirschman supplier-concentration index per "
    "part type: revenue shares in exact integer parts-per-million "
    "(floor division of cents — no double summation anywhere), HHI = "
    "sum(ppm^2)/1e12 with one final division. The "
    "market-concentration companion to the Gini/Pareto tier: HHI "
    "moves with squared shares, so a type served by one dominant "
    "supplier scores near 1 while even splits score near 1/n. Two "
    "partial-agg shuffles ((type, supplier) then type) after a "
    "broadcast part join; all integers stay below 2^53.",
)
def supplier_hhi_by_part_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg((F.sum(dec("l_extendedprice")) * 100).cast("bigint").alias("cents"))
    )
    tot = rev.groupBy("p_type").agg(F.sum("cents").alias("total_cents"))
    shares = rev.join(tot, "p_type").select(
        "p_type",
        F.expr("(cents * 1000000) div total_cents").alias("ppm"),
    )
    return (
        shares.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.max("ppm").cast("bigint").alias("top_share_ppm"),
            (
                F.sum(F.col("ppm") * F.col("ppm")).cast("double")
                / F.lit(1_000_000_000_000.0)
            ).alias("hhi"),
        )
        .orderBy("p_type")
    )


@query(
    "events_interarrival_stats",
    oracle="""
        WITH seq AS (
            SELECT event_type, ts, user_id,
                   LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events
        ), gaps AS (
            SELECT event_type,
                   epoch_us(ts) - epoch_us(prev_ts) AS gap_us
            FROM seq WHERE prev_ts IS NOT NULL
        )
        SELECT event_type,
               COUNT(*) AS n_gaps,
               CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   / 1000000.0 AS mean_gap_seconds,
               CAST(MIN(gap_us) AS DOUBLE) / 1000000.0 AS min_gap_seconds,
               CAST(MAX(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_seconds
        FROM gaps
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="User-cadence inter-arrival analysis: per-user event "
    "sequences (lag window PARTITIONED by user — entity-partitioned, "
    "externally spillable) yield gaps in exact epoch microseconds, "
    "aggregated per the later event's type. All sums are int64 "
    "(microsecond gaps; the int64->double conversion is "
    "round-to-nearest in both engines) with final divisions only. "
    "The cadence profile that drives session-gap threshold choices "
    "(sessionize_user_events' 30-minute gap) and bot detection "
    "(impossibly small minimum gaps).",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    gaps = seq.filter(F.col("prev_ts").isNotNull()).select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (
                F.sum("gap_us").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1_000_000.0)
            ).alias("mean_gap_seconds"),
            (F.min("gap_us").cast("double") / F.lit(1_000_000.0)).alias(
                "min_gap_seconds"
            ),
            (F.max("gap_us").cast("double") / F.lit(1_000_000.0)).alias(
                "max_gap_seconds"
            ),
        )
        .orderBy("event_type")
    )
