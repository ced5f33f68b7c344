"""Wave-25: remaining source-format surface — raw text-line files and
XML extraction (Spark 4's from_xml), completing the format matrix
(parquet/CSV/JSONL/ORC in formats_q, schema evolution in analytics16).

Oracle strategy: the text round-trip is pinned by recomputing the
same line statistics from the documents table directly; the XML lane
CONSTRUCTS its XML deterministically from order columns in-plan, so
the oracle derives identical values from the raw columns without
needing an XML parser in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import dec, query, scratch


@query(
    "format_text_lines_roundtrip",
    oracle="""
        WITH lines AS (
            SELECT CAST(doc_id AS VARCHAR) || chr(9) || lang AS line
            FROM documents WHERE doc_id < 2000
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(length(line)) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT substr(line, strpos(line, chr(9)) + 1))
                    AS BIGINT) AS n_langs
        FROM lines
    """,
    description="Raw text-line source/sink (spark.read.text / "
    "df.write.text): one tab-joined line per document, written as an "
    "uncompressed text directory and re-read as the single `value` "
    "column — the lowest-common-denominator interchange format every "
    "log pipeline starts from. Line statistics recomputed from the "
    "re-read side must equal the oracle's direct computation. Text "
    "sources split by line offset, so at 100 TB the read "
    "parallelizes like any other splittable format (unlike gzip'd "
    "text — noted in the format matrix).",
)
def format_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    lines = docs.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("\t"), F.col("lang")).alias(
            "value"
        )
    )
    base = scratch(prefix="textfmt_")
    lines.write.mode("overwrite").text(f"{base}/lines")
    back = spark.read.text(f"{base}/lines")
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.count_distinct(
            F.substring_index(F.col("value"), "\t", -1)
        ).alias("n_langs"),
    )


@query(
    "format_xml_extract",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderkey < 3000
        GROUP BY o_orderstatus
        ORDER BY status
    """,
    description="XML lane (Spark 4 from_xml): order rows are "
    "serialized to <order><key/><status/><price/></order> documents "
    "in-plan, then parsed back through a typed schema and "
    "re-aggregated — the round-trip must reproduce the raw-column "
    "aggregation exactly (the oracle computes it directly; DuckDB "
    "needs no XML parser because the XML is deterministic by "
    "construction). Covers the schema-on-read path for the one "
    "ubiquitous enterprise format the matrix lacked; parsing is "
    "JVM-side, no UDF.",
)
def format_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    xml = orders.select(
        F.concat(
            F.lit("<order><key>"),
            F.col("o_orderkey").cast("string"),
            F.lit("</key><status>"),
            F.col("o_orderstatus"),
            F.lit("</status><price>"),
            F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
            F.lit("</price></order>"),
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc", "key LONG, status STRING, price DECIMAL(15,2)"
        ).alias("o")
    ).select("o.key", "o.status", "o.price")
    return (
        parsed.groupBy(F.col("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("status")
    )


@query(
    "format_dynamic_partition_overwrite",
    oracle="""
        WITH final AS (
            SELECT o_orderstatus,
                   CASE WHEN o_orderstatus = 'F'
                        THEN CAST(o_totalprice AS DECIMAL(15,2)) * 2
                        ELSE CAST(o_totalprice AS DECIMAL(15,2)) END AS price
            FROM orders WHERE o_orderkey < 4000
        )
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(price) AS DOUBLE) AS total_price
        FROM final
        GROUP BY o_orderstatus
        ORDER BY status
    """,
    description="Dynamic partition overwrite "
    "(spark.sql.sources.partitionOverwriteMode=dynamic): the "
    "hive-partitioned table is first written whole, then ONLY the "
    "status='F' partition is rewritten (prices doubled as the marker) "
    "— the other partitions' files must survive untouched, which "
    "static overwrite mode would have deleted. This is the partition-"
    "level upsert every incremental batch pipeline relies on; the "
    "oracle states the expected merged end-state from the raw table.",
)
def format_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey", dec("o_totalprice").alias("price"), "o_orderstatus")
    )
    base = scratch(prefix="dpo_")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(base)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            orders.filter(F.col("o_orderstatus") == "F")
            .withColumn("price", F.col("price") * 2)
            .write.partitionBy("o_orderstatus")
            .mode("overwrite")
            .parquet(base)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (
        spark.read.parquet(base)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("status")
    )


@query(
    "format_jsonl_corrupt_records",
    oracle="""
        WITH lines AS (
            SELECT doc_id, n_chars,
                   CASE WHEN doc_id % 5 = 0 THEN 'corrupt'
                        ELSE 'good' END AS kind
            FROM documents WHERE doc_id < 3000
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN kind = 'good' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_parsed,
               CAST(SUM(CASE WHEN kind = 'corrupt' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corrupt,
               CAST(SUM(CASE WHEN kind = 'good' THEN n_chars END) AS BIGINT)
                   AS sum_chars_parsed
        FROM lines
    """,
    description="Schema-on-read error handling for JSONL: every 5th "
    "line is written deliberately truncated (unclosed brace), and the "
    "PERMISSIVE reader must park exactly those lines in "
    "_corrupt_record with NULL data fields while parsing the rest — "
    "the malformed-feed contract batch ingestion depends on (FAILFAST "
    "would kill a 100 TB job for one bad line; DROPMALFORMED would "
    "hide it). The oracle recomputes the good/corrupt partition from "
    "the deterministic corruption rule.",
)
def format_jsonl_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    line = F.when(
        F.col("doc_id") % 5 == 0,
        # truncated JSON: opening brace + key, no closing brace
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
    ).otherwise(
        F.concat(
            F.lit('{"doc_id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "n_chars": '),
            F.col("n_chars").cast("string"),
            F.lit("}"),
        )
    )
    base = scratch(prefix="jsonl_corrupt_")
    docs.select(line.alias("value")).write.mode("overwrite").text(f"{base}/feed")
    parsed = (
        spark.read.schema("doc_id LONG, n_chars LONG, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{base}/feed")
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("n_chars").alias("n_parsed"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum("n_chars").alias("sum_chars_parsed"),
    )


@query(
    "format_csv_multiline_quoted",
    oracle="""
        WITH rows AS (
            SELECT o_orderkey,
                   'note for ' || CAST(o_orderkey AS VARCHAR) ||
                   ', "quoted"' || chr(10) || 'second line' AS note,
                   CAST(o_totalprice AS DECIMAL(15,2)) AS price
            FROM orders WHERE o_orderkey < 2000
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(length(note)) AS BIGINT) AS total_note_chars,
               CAST(SUM(price) AS DOUBLE) AS total_price
        FROM rows
    """,
    description="CSV with embedded commas, escaped quotes, AND "
    "newlines inside quoted fields — the classic feed-breaker. The "
    "writer quotes/escapes (quoteAll), the reader needs "
    "multiLine=true (without it, line-split parsing shreds records "
    "mid-field). Round-trip aggregation must equal the oracle's "
    "direct computation of the constructed notes. Scale caveat "
    "stated: multiLine CSV is NOT split-parallel per file (records "
    "cross line boundaries), so big multiline feeds should land as "
    "many medium files — noted in the format matrix.",
)
def format_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    rows = orders.select(
        "o_orderkey",
        F.concat(
            F.lit("note for "),
            F.col("o_orderkey").cast("string"),
            F.lit(', "quoted"\nsecond line'),
        ).alias("note"),
        dec("o_totalprice").alias("price"),
    )
    base = scratch(prefix="csv_ml_")
    (
        rows.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(f"{base}/feed")
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema("o_orderkey LONG, note STRING, price DECIMAL(15,2)")
        .csv(f"{base}/feed")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("note")).alias("total_note_chars"),
        F.sum("price").cast("double").alias("total_price"),
    )


@query(
    "format_fixed_width_ingest",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        FROM orders
        WHERE o_orderkey < 3000
        GROUP BY o_orderstatus
        ORDER BY status
    """,
    description="Fixed-width (mainframe-export) text lane: order rows "
    "serialize to 25-byte fixed-position records (orderkey lpad 12, "
    "status 1, price-in-cents lpad 12), write through the text sink, "
    "re-read and parse by column OFFSETS — substring projections, no "
    "regex, no UDF, fully inside codegen — then re-aggregate. The "
    "round-trip must reproduce the raw-column aggregation exactly "
    "(cents stay integers end-to-end, so the re-parsed sum is exact). "
    "This is the one legacy interchange format healthcare/finance "
    "feeds still arrive in; fixed-width text splits by line offset, "
    "so a 100 TB feed scans as parallel as CSV, and offset parsing "
    "is cheaper than CSV's quote/escape state machine.",
)
def format_fixed_width_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    cents = (dec("o_totalprice") * 100).cast("bigint")
    lines = orders.select(
        F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            F.col("o_orderstatus"),
            F.lpad(cents.cast("string"), 12, "0"),
        ).alias("value")
    )
    base = scratch(prefix="fixedw_")
    lines.write.mode("overwrite").text(f"{base}/records")
    back = spark.read.text(f"{base}/records")
    parsed = back.select(
        F.substring("value", 13, 1).alias("status"),
        F.substring("value", 14, 12).cast("bigint").alias("cents"),
    )
    return (
        parsed.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("total_price"),
        )
        .orderBy("status")
    )


CSV_DIALECT_KEY_CAP = 3000
CSV_NULL_MARK = "NULLX"


@query(
    "format_csv_dialect_battery",
    oracle=f"""
        WITH src AS (
            SELECT o_orderkey AS id, o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders WHERE o_orderkey < {CSV_DIALECT_KEY_CAP}
        ), built AS (
            SELECT id, cents,
                   CASE WHEN status = 'F' THEN NULL
                        ELSE 'a,"' || status || '"' || chr(10) || 'z|x'
                   END AS s
            FROM src
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(id) AS BIGINT) AS sum_id,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(COUNT(*) - COUNT(s) AS BIGINT) AS n_nulls,
               CAST(COALESCE(SUM(length(s)), 0) AS BIGINT) AS sum_str_len,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct_strs
        FROM built
    """,
    description="CSV dialect battery — the reference IS a CSV "
    "ingester (glue_job_script.py:39-42), so the parser's hostile "
    "corners are [REF]-fidelity surface: fields containing the "
    "DELIMITER, embedded RFC-4180 doubled quotes, embedded NEWLINES "
    "(multiLine mode), and unquoted null sentinels, under a "
    "non-default '|' separator. Rows serialize to dialect CSV with "
    "manual RFC quoting (quote-wrap + quote-doubling), round-trip "
    "through a text sink and spark.read.csv(sep/quote/escape/"
    "multiLine/nullValue), and the aggregate over the PARSED result "
    "must hash-match the oracle computed directly from the source "
    "table — any mis-split row, lost quote, or un-collapsed escape "
    "shifts the counts/lengths. Scale note: multiLine=true makes "
    "each file a single parse unit (no intra-file split points with "
    "embedded newlines) — file-count, not byte-split, is the "
    "parallelism knob on such data, which is why the writer keeps "
    "many small-bounded files.",
)
def format_csv_dialect_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < CSV_DIALECT_KEY_CAP
    )
    hostile = F.concat(
        F.lit('a,"'), F.col("o_orderstatus"), F.lit('"'),
        F.expr("chr(10)"), F.lit("z|x"),
    )
    built = orders.select(
        F.col("o_orderkey").alias("id"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", F.lit(None).cast("string"))
        .otherwise(hostile)
        .alias("s"),
    )
    quoted = F.concat(
        F.lit('"'), F.regexp_replace("s", '"', '""'), F.lit('"')
    )
    lines = built.select(
        F.concat(
            F.col("id").cast("string"),
            F.lit("|"),
            F.coalesce(quoted, F.lit(CSV_NULL_MARK)),
            F.lit("|"),
            F.col("cents").cast("string"),
        ).alias("value")
    )
    base = scratch(prefix="csv_dialect_")
    lines.write.mode("overwrite").text(base)
    parsed = (
        spark.read.schema("id long, s string, cents long")
        .option("sep", "|")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .option("nullValue", CSV_NULL_MARK)
        .csv(base)
    )
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("id").cast("bigint").alias("sum_id"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        (F.count(F.lit(1)) - F.count("s")).cast("bigint").alias("n_nulls"),
        F.coalesce(F.sum(F.length("s")), F.lit(0))
        .cast("bigint")
        .alias("sum_str_len"),
        F.countDistinct("s").cast("bigint").alias("n_distinct_strs"),
    )


DL_KEY_CAP = 2000  # v0 = orders below this key
DL_INS_LO, DL_INS_HI = 2000, 2200  # merge-inserted key range
DL_UPD_MOD = 8  # keys % 8 == 0 get cents += 100


@query(
    "lakehouse_time_travel_merge",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey AS id, o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders
        ), v0 AS (
            SELECT * FROM base WHERE id < {DL_KEY_CAP}
        ), v1 AS (
            SELECT id, status,
                   CASE WHEN id % {DL_UPD_MOD} = 0
                        THEN cents + 100 ELSE cents END AS cents
            FROM v0
            UNION ALL
            SELECT id, status, cents FROM base
            WHERE id >= {DL_INS_LO} AND id < {DL_INS_HI}
        )
        SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS version,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents,
                   CAST(COUNT(DISTINCT status) AS BIGINT) AS n_statuses
            FROM v0
            UNION ALL
            SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(cents) AS BIGINT),
                   CAST(COUNT(DISTINCT status) AS BIGINT)
            FROM v1
        )
        ORDER BY version
    """,
    description="Lakehouse semantics without the lakehouse jars: "
    "deltalite (sources/deltalite.py) is a parquet + JSON-snapshot-log "
    "table format giving atomic commits (manifest published by atomic "
    "rename; data files invisible until referenced), TIME TRAVEL "
    "(any version = one manifest read, no log replay), and MERGE "
    "upsert (copy-on-write with an explicit file-skipping hook for "
    "scale) — the transactional curated-layer upgrade the reference's "
    "append-only S3 layout lacks, with the real Delta/Iceberg "
    "connectors env-gated in sources/formats.py. The query commits "
    "v0, MERGEs updates (+$1 on every 8th key) plus inserts, then "
    "time-travel reads BOTH versions and aggregates each: the v0 row "
    "hash-matching the pre-merge state PROVES snapshot isolation "
    "(the merge did not disturb history), and the v1 row proves the "
    "upsert semantics, all against an oracle computed directly from "
    "the source table.",
)
def lakehouse_time_travel_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalite import merge_upsert, read_table, write_table

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    path = scratch(prefix="deltalite_")
    v0 = base.filter(F.col("id") < DL_KEY_CAP)
    write_table(v0, path, mode="overwrite")
    updates = (
        v0.filter(F.col("id") % DL_UPD_MOD == 0)
        .withColumn("cents", F.col("cents") + 100)
        .unionByName(
            base.filter(
                (F.col("id") >= DL_INS_LO) & (F.col("id") < DL_INS_HI)
            )
        )
    )
    merge_upsert(spark, path, updates, "id")

    def snap_agg(version: int) -> DataFrame:
        return read_table(spark, path, version=version).agg(
            F.lit(version).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.countDistinct("status").cast("bigint").alias("n_statuses"),
        )
    return (
        snap_agg(0)
        .unionByName(snap_agg(1))
        .select("version", "n_rows", "sum_cents", "n_statuses")
        .orderBy("version")
    )


@query(
    "lakehouse_cdc_changefeed",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey AS id, o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
                       AS cents
            FROM orders
        ), v0 AS (
            SELECT * FROM base WHERE id < {DL_KEY_CAP}
        ), v1 AS (
            SELECT id, status,
                   CASE WHEN id % {DL_UPD_MOD} = 0
                        THEN cents + 100 ELSE cents END AS cents
            FROM v0
            UNION ALL
            SELECT id, status, cents FROM base
            WHERE id >= {DL_INS_LO} AND id < {DL_INS_HI}
        ), feed AS (
            SELECT COALESCE(a.id, b.id) AS id,
                   CASE WHEN a.id IS NULL THEN 'insert'
                        WHEN b.id IS NULL THEN 'delete'
                        WHEN a.cents <> b.cents OR a.status <> b.status
                        THEN 'update_postimage'
                        ELSE NULL END AS change_type,
                   COALESCE(b.cents, 0) - COALESCE(a.cents, 0)
                       AS cents_delta
            FROM v0 a FULL JOIN v1 b ON a.id = b.id
        )
        SELECT change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents_delta) AS BIGINT) AS cents_delta
        FROM feed WHERE change_type IS NOT NULL
        GROUP BY change_type
        ORDER BY change_type
    """,
    description="Change-data-feed between two deltalite snapshots "
    "(the Delta CDF / Iceberg changelog feature, computed rather than "
    "stored): time-travel read version 0 and version 1 of the same "
    "MERGE history as lakehouse_time_travel_merge, full-outer join on "
    "the key, and classify every row as insert / delete / "
    "update_postimage with the exact cents delta — the feed a "
    "downstream incremental consumer replays instead of re-reading "
    "the table. Scale shape: one key-partitioned full-outer join "
    "between two snapshots (at 100 TB, restricted to the files the "
    "manifests mark changed); all deltas exact int64. The oracle "
    "recomputes both versions directly from the source table, so the "
    "hash also re-proves the format's snapshot isolation end-to-end.",
)
def lakehouse_cdc_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalite import merge_upsert, read_table, write_table

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    path = scratch(prefix="deltalite_cdc_")
    v0 = base.filter(F.col("id") < DL_KEY_CAP)
    write_table(v0, path, mode="overwrite")
    updates = (
        v0.filter(F.col("id") % DL_UPD_MOD == 0)
        .withColumn("cents", F.col("cents") + 100)
        .unionByName(
            base.filter(
                (F.col("id") >= DL_INS_LO) & (F.col("id") < DL_INS_HI)
            )
        )
    )
    merge_upsert(spark, path, updates, "id")
    a = read_table(spark, path, version=0).select(
        F.col("id").alias("a_id"),
        F.col("status").alias("a_status"),
        F.col("cents").alias("a_cents"),
    )
    b = read_table(spark, path, version=1).select(
        F.col("id").alias("b_id"),
        F.col("status").alias("b_status"),
        F.col("cents").alias("b_cents"),
    )
    feed = a.join(b, F.col("a_id") == F.col("b_id"), "full").select(
        F.when(F.col("a_id").isNull(), "insert")
        .when(F.col("b_id").isNull(), "delete")
        .when(
            (F.col("a_cents") != F.col("b_cents"))
            | (F.col("a_status") != F.col("b_status")),
            "update_postimage",
        )
        .alias("change_type"),
        (
            F.coalesce("b_cents", F.lit(0)) - F.coalesce("a_cents", F.lit(0))
        ).alias("cents_delta"),
    )
    return (
        feed.filter(F.col("change_type").isNotNull())
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents_delta").cast("bigint").alias("cents_delta"),
        )
        .orderBy("change_type")
    )
