"""Catalog registration (crawler replacement) + multimodal plumbing."""

from __future__ import annotations

import pytest

from aws_healthcare_etl_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image,
    extract_features,
)
from aws_healthcare_etl_pipeline_spark.sources.catalog import (
    refresh_partitions,
    register_parquet_table,
)
from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import IngestConfig, ingest_csv


def test_catalog_register_and_recover(spark, tmp_path):
    raw = tmp_path / "raw"
    (raw / "incoming").mkdir(parents=True)
    (raw / "incoming" / "a.csv").write_text("id,v\n1,10\n2,20\n")
    curated = tmp_path / "curated"

    cfg = IngestConfig(raw_root=str(raw), curated_root=str(curated), ingest_date="2026-06-01")
    ingest_csv(spark, cfg)

    fq = register_parquet_table(
        spark, "etl_test_db", "curated_events", cfg.output_path
    )
    assert spark.table(fq).count() == 2

    # new partition lands -> recoverPartitions picks it up (MSCK parity,
    # replaces the 15-min crawler cadence main.tf:203)
    cfg2 = IngestConfig(raw_root=str(raw), curated_root=str(curated), ingest_date="2026-06-02")
    ingest_csv(spark, cfg2)
    refresh_partitions(spark, fq)
    assert spark.table(fq).count() == 4
    parts = {r.ingest_date for r in spark.table(fq).select("ingest_date").distinct().collect()}
    assert parts == {"2026-06-01", "2026-06-02"}
    spark.sql(f"DROP TABLE {fq}")
    spark.sql("DROP DATABASE etl_test_db")


def test_refresh_runs_no_spark_job_past_listing_threshold(spark, tmp_path):
    """Past spark.rdd.parallelListingThreshold (10) partitions a refresh
    with gatherFastStats on runs a job listing every partition's files;
    get_spark turns that off, so a refresh of a 12-partition table runs
    none and still makes the new partition queryable. At 40 partitions a
    refresh plus the README query run none either."""
    from pyspark.sql import functions as F

    location = str(tmp_path / "t")

    def land(first, n):
        (
            spark.range(first, first + n)
            .withColumn("ingest_date", F.format_string("2026-07-%02d", F.col("id") + 1))
            .write.mode("append")
            .partitionBy("ingest_date")
            .parquet(location)
        )

    land(0, 11)
    fq = register_parquet_table(spark, "etl_refresh_db", "t", location)
    land(11, 1)
    sc = spark.sparkContext
    sc.setJobGroup("refresh_12", "refresh")
    try:
        refresh_partitions(spark, fq)
        jobs = sc.statusTracker().getJobIdsForGroup("refresh_12")
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == []
    assert spark.table(fq).where("ingest_date = '2026-07-12'").count() == 1
    assert spark.table(fq).count() == 12

    # Past parallelPartitionDiscovery.threshold (32) paths a listing of every
    # partition is a Spark job; the refresh keeps the table's cached listing,
    # so a landing, its refresh and the README query run none at 40.
    land(12, 27)
    refresh_partitions(spark, fq)
    readme = f"SELECT ingest_date, COUNT(*) AS num_rows FROM {fq} GROUP BY ingest_date ORDER BY ingest_date DESC"
    spark.sql(readme).collect()
    land(39, 1)
    sc.setJobGroup("refresh_40", "refresh")
    try:
        refresh_partitions(spark, fq)
        rows = spark.sql(readme).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("refresh_40")
    finally:
        sc._jsc.clearJobGroup()
    assert jobs == []
    assert len(rows) == 40 and rows[0].ingest_date == "2026-07-40" and rows[0].num_rows == 1
    spark.sql(f"DROP TABLE {fq}")
    spark.sql("DROP DATABASE etl_refresh_db")


def test_decode_contract():
    # unknown magic (JPEG/PNG-class payloads) still needs a codec: loud error
    with pytest.raises(ValueError):
        decode_image(b"payload")
    img = decode_image(b"payload", fake=True)
    assert img.shape == (8, 8)
    # deterministic across calls
    assert (img == decode_image(b"payload", fake=True)).all()


def test_real_decode_ppm_bmp_roundtrip():
    import numpy as np

    from aws_healthcare_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    rgb = (np.arange(5 * 7 * 3, dtype=np.uint32) * 37 % 256).astype(np.uint8)
    rgb = rgb.reshape(5, 7, 3)
    gray = rgb[:, :, 0]
    assert (decode_image(encode_ppm(rgb)) == rgb).all()  # P6 roundtrip
    assert (decode_image(encode_ppm(gray)) == gray).all()  # P5 roundtrip
    # BMP: 7px rows exercise the 4-byte padding path; bottom-up raster
    assert (decode_image(encode_bmp(rgb)) == rgb).all()
    # PNM comment handling
    commented = b"P5\n# a comment\n7 5\n255\n" + gray.tobytes()
    assert (decode_image(commented) == gray).all()


def test_extract_features_real_decode(spark):
    import numpy as np

    from aws_healthcare_etl_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
        extract_features,
    )

    rgb = (np.arange(6 * 6 * 3, dtype=np.uint32) * 11 % 256).astype(np.uint8)
    rgb = rgb.reshape(6, 6, 3)
    gray = (np.arange(4 * 4, dtype=np.uint32) * 29 % 256).astype(np.uint8)
    gray = gray.reshape(4, 4)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(rgb))), (2, bytearray(encode_bmp(rgb))),
         (3, bytearray(encode_ppm(gray)))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in extract_features(df, fake=False).collect()}
    gray_mean = float(rgb.astype("float64").mean(axis=2).mean())
    # PPM and BMP carry the same pixels -> identical features
    assert abs(rows[1].mean_intensity - gray_mean) < 1e-12
    assert abs(rows[2].mean_intensity - gray_mean) < 1e-12
    assert rows[1].feature == rows[2].feature
    assert abs(rows[3].mean_intensity - float(gray.mean())) < 1e-12
    expect = [float(x) for x in (gray.astype("float32").ravel() / 255.0)[:16]]
    assert rows[3].feature == pytest.approx(expect)


def test_extract_features_rejects_16bit_pnm(spark):
    # The worker-side decode must reject maxval > 255 exactly like
    # decode_image — a 16-bit P5 payload must raise, not silently
    # mis-decode.
    import numpy as np

    from aws_healthcare_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        extract_features,
    )

    gray16 = (np.arange(4 * 4, dtype=np.uint16) * 1021 % 65536).astype(">u2")
    payload = b"P5\n4 4\n65535\n" + gray16.tobytes()
    with pytest.raises(ValueError, match="maxval"):
        decode_image(payload)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="maxval"):
        extract_features(df, fake=False).collect()


def test_perceptual_hash_real_and_fake(spark):
    # Real mode: phash from block-mean pooling must match a direct
    # recomputation via decode_image;
    # fake mode: exact integer threshold over the md5-derived pixels.
    import hashlib

    import numpy as np

    from aws_healthcare_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
        perceptual_hash,
    )

    rgb = (np.arange(16 * 24 * 3, dtype=np.uint32) * 97 % 256).astype(np.uint8)
    rgb = rgb.reshape(16, 24, 3)
    gray = (np.arange(9 * 11, dtype=np.uint32) * 41 % 256).astype(np.uint8)
    gray = gray.reshape(9, 11)
    payloads = {1: encode_ppm(rgb), 2: encode_bmp(rgb), 3: encode_ppm(gray)}

    def expect_real(payload):
        img = decode_image(payload)
        if img.ndim == 3:
            img = img.astype("float64").mean(axis=2)
        img = img.astype("float64")
        ih, iw = img.shape
        h8, w8 = ih // 8 * 8, iw // 8 * 8
        blocks = img[:h8, :w8].reshape(8, h8 // 8, 8, w8 // 8).mean(axis=(1, 3))
        flat = blocks.ravel()
        return sum(1 << j for j in range(60) if flat[j] > flat.mean())

    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r.phash for r in perceptual_hash(df, fake=False).collect()}
    assert got == {k: expect_real(v) for k, v in payloads.items()}
    # PPM and BMP of the same pixels -> identical perceptual hash
    assert got[1] == got[2]

    def expect_fake(payload):
        pixels = list(hashlib.md5(payload).digest()) * 4
        total = sum(pixels)
        return sum(1 << j for j in range(60) if pixels[j] * 64 > total)

    got_fake = {
        r.doc_id: r.phash for r in perceptual_hash(df, fake=True).collect()
    }
    assert got_fake == {k: expect_fake(v) for k, v in payloads.items()}


def test_binary_payload_and_features(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine")], "doc_id long, text string"
    )
    wp = attach_binary_payload(df, "text")
    meta = {r.doc_id: r.media_meta for r in wp.collect()}
    assert meta[1].n_bytes == len(b"hello world")
    assert meta[1].format == "raw/utf-8"
    assert len(meta[1].checksum_md5) == 32

    feats = {r.doc_id: r for r in extract_features(wp).collect()}
    assert feats[1].n_bytes == 11
    assert len(feats[1].feature) == 16
    assert all(0.0 <= x <= 1.0 for x in feats[1].feature)
    # deterministic fake decode -> stable mean intensity
    again = {r.doc_id: r.mean_intensity for r in extract_features(wp).collect()}
    assert again[1] == feats[1].mean_intensity
