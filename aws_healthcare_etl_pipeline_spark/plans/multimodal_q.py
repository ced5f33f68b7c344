"""Multimodal-column queries (SURVEY.md §2.8): binary payload columns
with typed metadata, and Arrow-batched feature extraction.

``multimodal_payload_stats`` is fully oracle-checked (byte lengths and
md5 checksums are engine-portable). ``multimodal_features`` exercises
the mapInPandas decode/feature plumbing with the deterministic fake
decoder (rows-only check; pytest asserts the feature values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_binary_payload, extract_features
from ..sources.tables import load_table
from .registry import query


@query(
    "multimodal_payload_stats",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               MIN(md5(text)) AS min_checksum,
               MAX(md5(text)) AS max_checksum
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    description="Binary payload representation: per-source byte totals + "
    "checksum extrema over the payload column.",
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs, "text")
    return (
        with_payload.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("media_meta.n_bytes")).alias("total_bytes"),
            F.min(F.col("media_meta.checksum_md5")).alias("min_checksum"),
            F.max(F.col("media_meta.checksum_md5")).alias("max_checksum"),
        )
        .orderBy("source")
    )


# The fake decode kernel derives its 8x8 "image" from md5(payload)
# repeated 4x (operators/multimodal.py::decode_image, fake=True), so every
# downstream feature is an arithmetic function of the 16 digest bytes —
# which SQL engines can recompute from md5 hex. Shared fragment:
# byte i of the digest parsed from hex chars 2i+1, 2i+2.
SQL_DIGEST_BYTES = """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               list_transform(range(0, 16), i ->
                 16 * (strpos('0123456789abcdef', substr(md5(text), 2*i + 1, 1)) - 1)
                    + (strpos('0123456789abcdef', substr(md5(text), 2*i + 2, 1)) - 1)
               ) AS bytes
        FROM documents
"""


@query(
    "multimodal_feature_extract",
    oracle=f"""
        WITH d AS ({SQL_DIGEST_BYTES})
        SELECT doc_id,
               n_bytes,
               round(list_sum(bytes) / 16.0, 6) AS mean_intensity,
               CAST(16 AS INT) AS feature_dim
        FROM d
        ORDER BY doc_id
    """,
    description="mapInPandas feature extraction over binary payloads "
    "(deterministic fake decode kernel; real codec is a drop-in). The "
    "fake image is md5(payload) bytes x4, so mean intensity reduces to "
    "mean of the 16 digest bytes — recomputed from md5 hex in SQL.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs, "text")
    feats = extract_features(with_payload, id_col="doc_id")
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.size("feature").alias("feature_dim"),
    ).orderBy("doc_id")


@query(
    "multimodal_resize_stats",
    oracle=f"""
        WITH d AS ({SQL_DIGEST_BYTES})
        SELECT doc_id,
               CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
               CAST(16 AS INT) AS n_pixels,
               CAST(4 * (bytes[1] + bytes[3] + bytes[5] + bytes[7])
                    AS BIGINT) AS pixel_sum
        FROM d
        ORDER BY doc_id
    """,
    description="Resize-kernel plumbing over binary payloads (nearest-"
    "neighbor on the deterministic fake decode). 4x4 nearest-neighbor "
    "over the md5-derived 8x8 samples digest bytes 0/2/4/6 on every "
    "row, so the SQL oracle recomputes the exact pixel sum from hex.",
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs, "text")
    resized = resize_images(with_payload, size=(4, 4))
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.size("pixels").alias("n_pixels"),
        F.aggregate(F.col("pixels"), F.lit(0).cast("bigint"), lambda a, x: a + x)
        .alias("pixel_sum"),
    ).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    oracle="""
        SELECT doc_id,
               CAST(fi AS INT) AS frame_idx,
               md5(CAST(fi AS VARCHAR) || ':' || md5(text)) AS frame_checksum
        FROM documents, (VALUES (0), (4), (8), (12)) f(fi)
        ORDER BY doc_id, frame_idx
    """,
    description="Video frame-sampling plumbing: 1:N explode of sampled "
    "frames with per-frame checksums (fake 16-frame stream repeats the "
    "payload digest, and checksums cover index ':' hex(frame) — so SQL "
    "recomputes them as md5(idx ':' md5(payload)).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs, "text")
    frames = sample_frames(with_payload, every_n=4)
    return frames.orderBy("doc_id", "frame_idx")


CHUNK_BYTES = 64


@query(
    "multimodal_chunk_dedup",
    oracle=f"""
        WITH p AS (
            SELECT source, hex(encode(text)) AS hx FROM documents
        ), chunks AS (
            SELECT source,
                   md5(substring(hx,
                                 CAST((s.i - 1) * {2 * CHUNK_BYTES} + 1 AS INT),
                                 {2 * CHUNK_BYTES})) AS chunk_id
            FROM p, LATERAL (
                SELECT UNNEST(generate_series(
                    1,
                    CAST((length(hx) + {2 * CHUNK_BYTES - 1}) // {2 * CHUNK_BYTES}
                         AS BIGINT),
                    1)) AS i) s
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS n_distinct_chunks
        FROM chunks
        GROUP BY source
        ORDER BY source
    """,
    description="Content-addressable chunk dedup over BINARY payloads "
    "(the blob-store pattern: fixed 64-byte chunks, md5 chunk ids, "
    "store each distinct chunk once): chunk identity goes through "
    "hex() so the digest input is an engine-portable string (DuckDB "
    "has no BLOB substring, so both engines slice the hex form — two "
    "chars per byte, byte semantics preserved exactly). Per-source chunk totals vs distinct "
    "counts quantify the dedup win. One generator per payload "
    "(length/64 elements, linear) + one distinct-agg shuffle on "
    "16-byte ids.",
)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "source", F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx")
    )
    hex_chunk = 2 * CHUNK_BYTES
    chunks = p.select(
        "source",
        F.explode(
            F.sequence(
                F.lit(1),
                ((F.length("hx") + hex_chunk - 1) / hex_chunk).cast("long"),
                F.lit(1),
            )
        ).alias("i"),
        "hx",
    ).select(
        "source",
        F.md5(
            F.expr(
                f"substring(hx, CAST((i - 1) * {hex_chunk} + 1 AS INT), {hex_chunk})"
            )
        ).alias("chunk_id"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("chunk_id").alias("n_distinct_chunks"),
        )
        .orderBy("source")
    )
