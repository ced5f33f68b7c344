"""Deltalite: a dependency-free transactional table format — parquet
data files + a JSON snapshot log — giving the lakehouse semantics the
reference's curated layer lacks (and that Delta/Iceberg would provide
if their jars were on the classpath).

Layout:
    <path>/part-<uuid>.parquet            immutable data files
    <path>/_dl_log/<version 12-digit>.json   full snapshot manifests

Each manifest lists the ACTIVE data files of that version (a full
snapshot, not a delta — O(files) per commit, the right simplicity
trade below ~10^5 files; Delta's incremental log + checkpoints is the
same idea with compaction). Readers resolve a version by reading ONE
manifest — no log replay.

ACID story (single-writer):
  - data files are written first and are INVISIBLE until a manifest
    references them — a crash mid-write leaks orphan files but never
    exposes partial data (readers of version N see exactly version N);
  - the manifest is written to a temp file and PUBLISHED via
    ``os.link`` to the version path: the link fails loudly with
    ``FileExistsError`` if another writer already committed that
    version (optimistic concurrency — losers retry at version+1
    rather than silently clobbering), and the linked file is never
    observable half-written. Requires a filesystem with hard-link
    support (any POSIX local/NFS fs; not FAT/exotic object-store
    mounts — those would need an O_EXCL-create + rename fallback).

Time travel = read any old manifest. MERGE is copy-on-write: the new
snapshot rewrites matched rows and appends new ones; at 100 TB the
rewrite is restricted to the partitions/files containing matches
(file-level pruning hook left explicit in ``merge_upsert``).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_dl_log"


def _log_path(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _manifest_file(path: str, version: int) -> str:
    return os.path.join(_log_path(path), f"{version:012d}.json")


def table_versions(path: str) -> list[int]:
    """All committed versions, ascending. Empty if no table."""
    log = _log_path(path)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(log) if f.endswith(".json")
    )


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_file(path, version)) as f:
        return json.load(f)


def _commit(path: str, files: list[str], operation: str) -> int:
    """Atomically publish a new snapshot listing ``files``."""
    os.makedirs(_log_path(path), exist_ok=True)
    versions = table_versions(path)
    version = (versions[-1] + 1) if versions else 0
    manifest = {
        "version": version,
        "operation": operation,
        "files": sorted(files),
    }
    fd, tmp = tempfile.mkstemp(dir=_log_path(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    # Atomic publish via hard-link: unlike rename, link() FAILS with
    # EEXIST if the version was committed by someone else between our
    # listdir and now — a racing writer gets a loud FileExistsError
    # instead of silently clobbering a committed snapshot.
    target = _manifest_file(path, version)
    try:
        os.link(tmp, target)
    except FileExistsError:
        os.unlink(tmp)
        raise FileExistsError(
            f"deltalite version {version} already committed at {path} "
            "(concurrent writer detected; retry from latest version)"
        )
    os.unlink(tmp)
    return version


def _write_data_files(df: DataFrame, path: str) -> list[str]:
    """Write df as parquet into ``path`` under fresh unique names;
    return the new file names (relative)."""
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(path, exist_ok=True)
    names = []
    for f in os.listdir(staging):
        if f.endswith(".parquet"):
            name = f"part-{uuid.uuid4().hex[:16]}.parquet"
            os.rename(os.path.join(staging, f), os.path.join(path, name))
            names.append(name)
    for f in os.listdir(staging):  # _SUCCESS, .crc
        os.remove(os.path.join(staging, f))
    os.rmdir(staging)
    return names


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """Commit ``df`` as a new snapshot. ``mode``: overwrite | append."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    new_files = _write_data_files(df, path)
    versions = table_versions(path)
    if mode == "append" and versions:
        new_files = _read_manifest(path, versions[-1])["files"] + new_files
    return _commit(path, new_files, mode)


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (latest by default; any version = time travel)."""
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no deltalite table at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    files = _read_manifest(path, v)["files"]
    if not files:
        raise ValueError(f"version {v} has no files")
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, f) for f in files]
    )


def merge_upsert(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> int:
    """MERGE (upsert): rows in ``updates`` replace current rows with
    the same ``key``; unmatched update rows are inserted.

    Copy-on-write: the current snapshot minus matched keys unions the
    updates into a fresh snapshot. At scale the anti-join + rewrite
    would be restricted to the files whose min/max key ranges overlap
    the update keys (file-skipping hook: the manifest is the place to
    carry per-file column stats); semantics are identical.
    """
    current = read_table(spark, path)
    kept = current.join(updates.select(key), key, "left_anti")
    merged = kept.unionByName(updates)
    new_files = _write_data_files(merged, path)
    return _commit(path, new_files, "merge")


def vacuum(path: str, retention_seconds: float = 600.0) -> list[str]:
    """Delete data files referenced by NO manifest (crash leftovers
    from writers that died before commit). Files referenced by ANY
    version are kept — time travel stays intact; dropping history
    would be a separate ``expire_versions`` policy decision.

    ``retention_seconds`` (default 10 min, like Delta's vacuum
    retention) skips unreferenced files younger than the cutoff: a
    concurrent writer renames data files in BEFORE committing the
    manifest that references them, so without the guard a vacuum
    racing that window would delete in-flight data. Pass 0 only when
    no writer can be running.
    Returns the deleted file names."""
    referenced: set[str] = set()
    for v in table_versions(path):
        referenced.update(_read_manifest(path, v)["files"])
    now = time.time()
    deleted = []
    for f in os.listdir(path):
        if f.endswith(".parquet") and f not in referenced:
            full = os.path.join(path, f)
            if now - os.path.getmtime(full) < retention_seconds:
                continue  # possibly a writer's pre-commit file
            os.remove(full)
            deleted.append(f)
    return sorted(deleted)


def compact(spark: SparkSession, path: str, target_files: int = 1) -> int:
    """OPTIMIZE: rewrite the CURRENT snapshot into ``target_files``
    right-sized files and commit it as a new version (old versions
    keep their small files until expired). The small-files problem is
    the lakehouse tax of frequent small appends; compaction pays it
    back without changing query results."""
    current = read_table(spark, path).coalesce(target_files)
    return _commit(path, _write_data_files(current, path), "compact")


def append_evolved(spark: SparkSession, path: str, df: DataFrame) -> int:
    """Schema-evolving append: new columns in ``df`` are added to the
    table (existing rows read them as NULL via parquet schema merge);
    columns missing from ``df`` are filled with NULL. Readers must
    merge schemas across files, which ``read_table`` relies on
    parquet's mergeSchema for when manifests span file schemas."""
    current = read_table(spark, path)
    aligned = df
    for c in current.columns:
        if c not in df.columns:
            aligned = aligned.withColumn(
                c, F.lit(None).cast(current.schema[c].dataType)
            )
    new_files = _write_data_files(aligned, path)
    versions = table_versions(path)
    files = _read_manifest(path, versions[-1])["files"] + new_files
    return _commit(path, files, "append_evolved")
