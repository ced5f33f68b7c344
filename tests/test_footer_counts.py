"""Row counts answered from Parquet footers (``sparkgraft.sql.FooterRowCounts``).

``get_spark`` registers an optimizer rule that answers ``COUNT(*)``
grouped by partition columns (or by nothing) over Parquet from the file
listing and the footers, as a local relation. Every case here runs with
the rule active and with it excluded through
``spark.sql.optimizer.excludedRules``, and both must return the same
rows; the shapes the rule must leave alone must still scan.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_healthcare_etl_pipeline_spark import session
from aws_healthcare_etl_pipeline_spark.sources import catalog
from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import IngestConfig, ingest_csv

RULE = "sparkgraft.sql.FooterRowCounts"
EXCLUDED = "spark.sql.optimizer.excludedRules"
README = "SELECT ingest_date, COUNT(*) AS num_rows FROM {t} GROUP BY ingest_date ORDER BY ingest_date DESC"
DATES = ["2026-01-01", "2026-01-02", "2026-01-03", None]


@contextlib.contextmanager
def rule_excluded(spark):
    old = spark.conf.get(EXCLUDED)
    spark.conf.set(EXCLUDED, f"{old},{RULE}" if old else RULE)
    try:
        yield
    finally:
        spark.conf.set(EXCLUDED, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"footer_counts:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def both(spark, make, ordered=False):
    """(rows, plan) with the rule active; asserts the excluded run agrees."""
    df = make()
    plan, rows = _plan(df), df.collect()
    with rule_excluded(spark):
        ref = make()
        ref_plan, ref_rows = _plan(ref), ref.collect()
    assert not answered(ref_plan), ref_plan
    if not ordered:
        rows, ref_rows = sorted(rows, key=repr), sorted(ref_rows, key=repr)
    assert rows == ref_rows
    return rows, plan


def answered(plan: str) -> bool:
    return plan.startswith("LocalTableScan")


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A partitioned Parquet dir with a NULL partition, registered in the catalog."""
    root = str(tmp_path_factory.mktemp("footer") / "athena")
    rows = [(i, f"p{i % 5}", float(i), DATES[i % 4]) for i in range(400)]
    schema = "id long, patient_id string, amount double, ingest_date string"
    spark.createDataFrame(rows, schema).repartition(3).write.partitionBy("ingest_date").parquet(root)
    fq = catalog.register_parquet_table(spark, "footer_counts", f"t{uuid.uuid4().hex[:8]}", root)
    return fq, root


@pytest.mark.parametrize(
    "sql",
    [
        README,
        "SELECT COUNT(*) FROM {t}",
        "SELECT COUNT(1) AS n, ingest_date FROM {t} GROUP BY ingest_date",
        "SELECT INGEST_DATE AS d, COUNT(*) FROM {t} GROUP BY Ingest_Date ORDER BY d NULLS FIRST",
        "SELECT ingest_date, COUNT(*) AS n FROM {t} GROUP BY ingest_date ORDER BY n DESC, ingest_date LIMIT 2",
        "SELECT ingest_date, COUNT(*) FROM {t} WHERE ingest_date >= '2026-01-02' GROUP BY ingest_date",
        "SELECT COUNT(*) FROM {t} WHERE ingest_date IS NULL",
        "SELECT COUNT(*) FROM {t} WHERE ingest_date IN ('2026-01-01', '2026-01-09')",
        "SELECT DISTINCT ingest_date FROM {t}",
    ],
)
def test_count_shapes_answer_from_footers(spark, table, sql):
    fq, _ = table
    rows, plan = both(spark, lambda: spark.sql(sql.format(t=fq)), ordered="ORDER BY" in sql)
    assert answered(plan), plan
    assert rows


def test_readme_query_counts_the_null_partition(spark, table):
    fq, _ = table
    rows, _ = both(spark, lambda: spark.sql(README.format(t=fq)), ordered=True)
    assert [r.ingest_date for r in rows] == ["2026-01-03", "2026-01-02", "2026-01-01", None]
    assert [r.num_rows for r in rows] == [100, 100, 100, 100]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT COUNT(amount) FROM {t}",
        "SELECT COUNT(DISTINCT patient_id) FROM {t}",
        "SELECT ingest_date, SUM(amount) FROM {t} GROUP BY ingest_date",
        "SELECT COUNT(*) FROM {t} WHERE amount > 10",
        "SELECT patient_id, COUNT(*) FROM {t} GROUP BY patient_id",
        "SELECT substr(ingest_date, 1, 7) AS m, COUNT(*) FROM {t} GROUP BY substr(ingest_date, 1, 7)",
        "SELECT COUNT(*) FILTER (WHERE ingest_date > '2026-01-01') FROM {t}",
        "SELECT COUNT(*) FROM {t} WHERE rand(7) < 0.5",
    ],
)
def test_other_shapes_still_scan(spark, table, sql):
    fq, _ = table
    _, plan = both(spark, lambda: spark.sql(sql.format(t=fq)))
    assert "FileScan" in plan, plan


def test_expression_over_inferred_partition_column_scans(spark, table):
    _, root = table
    # spark.read infers the dates as DateType, so the cast is a real expression
    make = lambda: spark.read.parquet(root).selectExpr("cast(ingest_date AS string) AS d").groupBy("d").count()  # noqa: E731
    _, plan = both(spark, make)
    assert "FileScan" in plan, plan


def test_cached_relation_scans(spark, table):
    _, root = table
    cached = spark.read.parquet(root)
    cached.cache()
    try:
        _, plan = both(spark, lambda: cached.groupBy("ingest_date").count())
        assert "InMemoryTableScan" in plan and "FileScan" in plan, plan
    finally:
        cached.unpersist()


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_other_formats_scan(spark, table, tmp_path, fmt):
    _, root = table
    path = str(tmp_path / fmt)
    spark.read.parquet(root).write.partitionBy("ingest_date").format(fmt).save(path)
    _, plan = both(spark, lambda: spark.read.format(fmt).load(path).groupBy("ingest_date").count())
    assert "FileScan" in plan, plan


def test_ignore_missing_or_corrupt_files_scans(spark, table):
    _, root = table
    _, plan = both(spark, lambda: spark.read.option("ignoreMissingFiles", "true").parquet(root).groupBy().count())
    assert "FileScan" in plan, plan
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        _, plan = both(spark, lambda: spark.read.parquet(root).groupBy().count())
        assert "FileScan" in plan, plan
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


def _empty_table(spark, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    fq = f"footer_counts.e{uuid.uuid4().hex[:8]}"
    spark.sql("CREATE DATABASE IF NOT EXISTS footer_counts")
    spark.sql(
        f"CREATE TABLE {fq} (id BIGINT) USING parquet PARTITIONED BY (ingest_date string) LOCATION '{path}'"
    )
    catalog.refresh_partitions(spark, fq)
    return fq


def test_empty_table_grouped_and_global(spark, tmp_path):
    fq = _empty_table(spark, str(tmp_path / "empty"))
    rows, plan = both(spark, lambda: spark.sql(README.format(t=fq)), ordered=True)
    assert rows == [] and answered(plan), plan
    rows, plan = both(spark, lambda: spark.sql(f"SELECT COUNT(*) AS n FROM {fq}"))
    assert [r.n for r in rows] == [0] and answered(plan), plan


def test_zero_row_files(spark, tmp_path):
    root = tmp_path / "zero"
    empty = pa.table({"id": pa.array([], pa.int64())})
    one = pa.table({"id": pa.array([1, 2, 3], pa.int64())})
    for date, tables in (("2026-01-01", [empty]), ("2026-01-02", [empty, one])):
        d = root / f"ingest_date={date}"
        d.mkdir(parents=True)
        for k, t in enumerate(tables):
            pq.write_table(t, str(d / f"part-{k}.parquet"))
    (root / "ingest_date=2026-01-03").mkdir()  # a partition with no files
    make = lambda: spark.read.parquet(str(root)).groupBy("ingest_date").count()  # noqa: E731
    rows, plan = both(spark, make)
    assert [r["count"] for r in rows] == [3] and answered(plan), plan
    rows, plan = both(spark, lambda: spark.read.parquet(str(root)).groupBy().count())
    assert [r["count"] for r in rows] == [3] and answered(plan), plan


def test_single_partition(spark, tmp_path):
    root = str(tmp_path / "single")
    spark.range(0, 25).selectExpr("id", "'2026-02-01' AS ingest_date").write.partitionBy("ingest_date").parquet(root)
    fq = catalog.register_parquet_table(spark, "footer_counts", f"s{uuid.uuid4().hex[:8]}", root)
    rows, plan = both(spark, lambda: spark.sql(README.format(t=fq)), ordered=True)
    assert [tuple(r) for r in rows] == [("2026-02-01", 25)] and answered(plan), plan


def test_many_files_read_on_the_driver(spark, tmp_path):
    root = str(tmp_path / "many")
    threshold = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    files = threshold + 8
    (
        spark.range(0, 40 * files, 1, files)
        .selectExpr("id", "concat('2026-03-0', cast(id % 3 + 1 AS string)) AS ingest_date")
        .write.partitionBy("ingest_date")
        .parquet(root)
    )
    df = spark.read.parquet(root)
    assert len(df.inputFiles()) > threshold
    rows, plan = both(spark, lambda: df.groupBy("ingest_date").count())
    assert answered(plan), plan
    assert sum(r["count"] for r in rows) == 40 * files
    # past the parallel-listing threshold the footers are still read on the driver
    _, jobs = _jobs(spark, lambda: df.groupBy("ingest_date").count().collect())
    assert jobs == 0


def test_readme_query_and_count_run_no_job(spark, table):
    fq, root = table
    rows, jobs = _jobs(spark, lambda: spark.sql(README.format(t=fq)).collect())
    assert len(rows) == 4 and jobs == 0
    df = spark.read.parquet(root)  # schema inference runs its own job, outside the count
    n, jobs = _jobs(spark, df.count)
    assert n == 400 and jobs == 0


def test_batch_landing_runs_three_jobs_then_one(spark, tmp_path):
    raw, curated = tmp_path / "raw", tmp_path / "curated"
    (raw / "incoming").mkdir(parents=True)
    for k in range(2):
        (raw / "incoming" / f"o{k}.csv").write_text(
            "patient_id,encounter_id,diagnosis,amount\n"
            + "".join(f"p-{k}{i},{i},flu,{i}.25\n" for i in range(50))
        )

    def land(k: int) -> None:
        ingest_csv(spark, IngestConfig(str(raw), str(curated), object_key=f"incoming/o{k}.csv", ingest_date=f"2026-04-0{k + 1}"))

    _, jobs = _jobs(spark, lambda: land(0))
    assert jobs == 3  # a dataset's first object: CSV header, schema inference, write
    fq = catalog.register_parquet_table(spark, "footer_counts", f"b{uuid.uuid4().hex[:8]}", str(curated / "athena"))

    def publish():
        land(1)
        catalog.refresh_partitions(spark, fq)
        return spark.sql(README.format(t=fq)).collect()

    rows, jobs = _jobs(spark, publish)
    assert [tuple(r) for r in rows] == [("2026-04-02", 50), ("2026-04-01", 50)]
    assert jobs == 1  # parsed once, under the dataset's schema, by the write


def _settle(root) -> None:
    """Date every file an hour back, so a count read from it may be kept."""
    old = time.time() - 3600
    for d, _, names in os.walk(root):
        for n in names:
            os.utime(os.path.join(d, n), (old, old))


def _count_and_reads(spark, make):
    """(sorted counts, footers read) of ``make`` with the rule active; asserts it answered."""
    rule = spark._jvm.sparkgraft.sql.FooterRowCounts
    before = rule.footersRead()
    rows, plan = both(spark, make)
    assert answered(plan), plan
    return sorted(r[-1] for r in rows), rule.footersRead() - before


def test_replaced_file_is_read_again(spark, tmp_path):
    part = tmp_path / "replaced" / "ingest_date=2026-05-01"
    part.mkdir(parents=True)
    make = lambda: spark.read.parquet(str(part.parent)).groupBy().count()  # noqa: E731

    def write(n):
        pq.write_table(pa.table({"id": pa.array(range(n), pa.int64())}), str(part / "part-0.parquet"))
        _settle(part)

    write(3)
    assert _count_and_reads(spark, make) == ([3], 1)
    assert _count_and_reads(spark, make) == ([3], 0)  # the count was kept
    write(7)  # the same path, another row count
    assert _count_and_reads(spark, make) == ([7], 1)
    assert _count_and_reads(spark, make) == ([7], 0)


def test_recent_file_count_is_not_kept(spark, tmp_path):
    part = tmp_path / "recent" / "ingest_date=2026-05-02"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"id": pa.array(range(4), pa.int64())}), str(part / "part-0.parquet"))
    stamp = time.time() + 60  # a time the clock has not passed: a rewrite could keep it
    os.utime(part / "part-0.parquet", (stamp, stamp))
    make = lambda: spark.read.parquet(str(part.parent)).groupBy().count()  # noqa: E731
    assert _count_and_reads(spark, make) == ([4], 1)
    assert _count_and_reads(spark, make) == ([4], 1)


def test_kept_counts_stay_bounded(spark, tmp_path):
    counts = getattr(spark._jvm.sparkgraft.sql, "FooterRowCounts$Counts")(3)
    for key in "abcd":
        counts.put(key, 1)
        counts.get("a")  # used last: "b" goes first
    assert sorted(counts.keySet()) == ["a", "c", "d"]

    root = tmp_path / "bounded"
    for k in range(8):
        part = root / f"ingest_date=2026-06-0{k + 1}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array(range(k + 1), pa.int64())}), str(part / "part-0.parquet"))
    _settle(root)
    rule = spark._jvm.sparkgraft.sql.FooterRowCounts
    counts, _ = _count_and_reads(spark, lambda: spark.read.parquet(str(root)).groupBy("ingest_date").count())
    assert counts == list(range(1, 9))
    assert 8 <= rule.cachedFiles() <= rule.CACHED_FILES == 20000


def test_caller_extensions_are_appended(spark):
    conf = session._session_conf(
        {"spark.sql.extensions": "a.Ext", "spark.driver.extraClassPath": "/x.jar", "k": "v"}
    )
    assert conf["spark.sql.extensions"] == "sparkgraft.sql.SparkGraftExtensions,a.Ext"
    assert conf["spark.driver.extraClassPath"] == session._JAR + os.pathsep + "/x.jar"
    assert conf["k"] == "v"
    assert spark.conf.get("spark.sql.extensions").split(",")[0] == "sparkgraft.sql.SparkGraftExtensions"


# The registry queries whose optimized plan the rule changes at sf0.001:
# each plan whose optimizer output differs with the rule excluded.
COUNT_SHAPED = [
    "approx_countmin_sketch_audit",
    "approx_hdr_histogram_quantile_audit",
    "audit_join_fanout_estimates",
    "audit_price_round_number_bias",
    "cdc_log_compaction",
    "dist_consistent_hash_rebalance",
    "dist_rendezvous_hash_rebalance",
    "geo_grid_radius_join",
    "join_hot_cold_split_equivalence",
    "maintenance_gdpr_erasure",
    "pipeline_dataloader_shuffle_audit",
    "pipeline_filter_attrition_funnel",
    "referential_integrity_audit",
    "stat_kruskal_wallis_ranksums",
    "stat_mood_dispersion_test",
    "stats_benjamini_hochberg_fdr",
    "text_boilerplate_line_removal",
    "text_stopword_discovery",
    "text_tfidf_top_terms",
]


@pytest.mark.parametrize("name", COUNT_SHAPED)
def test_count_shaped_registry_queries_agree(spark, sf_dir, name):
    from aws_healthcare_etl_pipeline_spark.plans import REGISTRY

    fn = REGISTRY[name].fn
    rows = sorted(map(repr, fn(spark, sf_dir).collect()))
    again = sorted(map(repr, fn(spark, sf_dir).collect()))  # from the kept counts
    with rule_excluded(spark):
        ref = sorted(map(repr, fn(spark, sf_dir).collect()))
    assert rows == again == ref
