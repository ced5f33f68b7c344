"""The ingest flow starts no processes once the session is up.

Without a native libhadoop, Hadoop's stock RawLocalFileSystem runs
``chmod`` for every permission it sets and ``readlink`` for every
FileContext link-status lookup, and its deprecated file status runs
``ls``/``stat``. ``get_spark`` registers a filesystem that answers these
in-process. This test puts logging shims for those commands first on
PATH of a fresh driver, starts a session, clears the log, then runs the
reference flow once: a batch ``ingest_csv``, one AvailableNow stream
cycle, catalog registration and refresh, and the README query.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMANDS = ("chmod", "readlink", "ls", "stat")

_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    ws, log = sys.argv[2], os.environ["FORK_LOG"]

    from pyspark.sql import types as T

    from aws_healthcare_etl_pipeline_spark.session import get_spark
    from aws_healthcare_etl_pipeline_spark.sources import catalog
    from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import IngestConfig, ingest_csv
    from aws_healthcare_etl_pipeline_spark.streaming.ingest_stream import (
        start_incremental_ingest,
    )

    schema = T.StructType([
        T.StructField("patient_id", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ])
    for sub, n in (("incoming", 3), ("stream", 2)):
        os.makedirs(os.path.join(ws, "raw", sub))
        with open(os.path.join(ws, "raw", sub, f"{sub}.csv"), "w") as f:
            f.write("patient_id,amount\\n")
            f.writelines(f"p{i},{i}.25\\n" for i in range(n))
    raw, curated = os.path.join(ws, "raw"), os.path.join(ws, "curated")

    spark = get_spark(
        app_name="fork_census",
        master="local[2]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {"startup": open(log).read().splitlines()}
    open(log, "w").close()
    try:
        ingest_csv(spark, IngestConfig(
            raw_root=raw, curated_root=curated,
            object_key="incoming/incoming.csv", ingest_date="2026-01-01",
        ))
        start_incremental_ingest(
            spark,
            IngestConfig(
                raw_root=raw, curated_root=curated,
                raw_prefix="stream/", ingest_date="2026-01-02",
            ),
            schema,
            os.path.join(ws, "checkpoint"),
        ).awaitTermination()
        table = catalog.register_parquet_table(
            spark, "census", "athena", os.path.join(curated, "athena")
        )
        catalog.refresh_partitions(spark, table)
        out["golden"] = [
            [r.ingest_date, r.num_rows]
            for r in spark.sql(
                f"SELECT ingest_date, COUNT(*) AS num_rows FROM {table} "
                "GROUP BY ingest_date ORDER BY ingest_date DESC"
            ).collect()
        ]
        out["checkpoint_commits"] = sorted(os.listdir(os.path.join(ws, "checkpoint", "commits")))
        out["curated"] = sorted(
            "parquet" if n.endswith(".parquet") else "parquet.crc" if n.endswith(".parquet.crc") else n
            for _, _, names in os.walk(os.path.join(curated, "athena")) for n in names
        )
    except Exception as e:
        out["error"] = str(e)[-600:]
    out["forks"] = open(log).read().splitlines()
    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def census(tmp_path_factory) -> dict:
    tmp = tmp_path_factory.mktemp("fork_census")
    shims, ws = tmp / "shims", tmp / "ws"
    shims.mkdir()
    ws.mkdir()
    log = tmp / "forks.log"
    log.write_text("")
    for cmd in COMMANDS:
        real = shutil.which(cmd)
        assert real, cmd
        shim = shims / cmd
        shim.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "$FORK_LOG"\nexec {real} "$@"\n')
        shim.chmod(0o755)
    script = tmp / "census.py"
    script.write_text(_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATH"] = f"{shims}{os.pathsep}{env.get('PATH', '')}"
    env["FORK_LOG"] = str(log)
    proc = subprocess.run(
        [sys.executable, str(script), REPO, str(ws)],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, f"census failed (rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    return json.loads(lines[-1][len("RESULT "):])


def test_flow_ran(census):
    assert "error" not in census, census["error"]
    assert census["golden"] == [["2026-01-02", 2], ["2026-01-01", 3]]
    # checksums and the commit markers are still written: each landing
    # commits its own partition directory, so each holds a _SUCCESS
    assert census["checkpoint_commits"] == [".0.crc", "0"]
    assert census["curated"] == [
        "._SUCCESS.crc", "._SUCCESS.crc", "_SUCCESS", "_SUCCESS",
        "parquet", "parquet", "parquet.crc", "parquet.crc",
    ]


def test_ingest_flow_starts_no_process(census):
    assert "error" not in census, census["error"]
    assert census["forks"] == [], census["forks"]
