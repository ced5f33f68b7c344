"""Plans that run a side pipeline leave nothing behind.

Nine streaming plans drain a stream into a memory sink
(``registry.run_available_now``), and seven write-then-read plans put
their files in ``registry.scratch``. A fresh driver with its own
``TMPDIR`` runs each of them once. After every call no ``stream_*``
view may be left in the catalog and the returned frame must still
collect. After the driver exits, none of their scratch directories may
be left in ``TMPDIR``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MEMORY_SINK_QUERIES = (
    "streaming_hourly_counts",
    "streaming_sliding_counts",
    "streaming_dedup_replay",
    "streaming_stream_stream_join",
    "streaming_stateful_user_totals",
    "streaming_static_enrich",
    "streaming_daily_distinct_users",
    "streaming_token_bucket_quota",
    "streaming_windowed_topk_types",
)
SCRATCH_QUERIES = {
    "layout_zorder_box_query": "zorder_",
    "format_schema_evolution": "schema_evo_",
    "maintenance_compact_files": "compact_",
    "maintenance_gdpr_erasure": "gdpr_",
    "format_csv_malformed_modes": "csv_modes_",
    "format_roundtrip_matrix": "fmt_roundtrip_",
    "streaming_scd2_upsert": "scd2_stream_",
}

_SCRIPT = textwrap.dedent(
    """
    import json, sys, traceback
    sys.path.insert(0, sys.argv[1])
    sf_dir, names = sys.argv[2], sys.argv[3:]

    from aws_healthcare_etl_pipeline_spark.plans import REGISTRY
    from aws_healthcare_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="side_pipeline_leaks",
        master="local[2]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    out = {}
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            views = sorted(
                t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")
            )
            out[name] = {"views": views, "rows": len(df.collect())}
        except Exception:  # report, and go on to the next query
            out[name] = {"error": traceback.format_exc()[-1500:]}
    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def leaks(tmp_path_factory) -> dict:
    tmp = tmp_path_factory.mktemp("side_pipeline_leaks")
    tmpdir = tmp / "tmpdir"
    tmpdir.mkdir()
    script = tmp / "leaks.py"
    script.write_text(_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmpdir)
    names = list(MEMORY_SINK_QUERIES) + list(SCRATCH_QUERIES)
    proc = subprocess.run(
        [sys.executable, str(script), REPO, SF_SMOKE, *names],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, f"driver failed (rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    return {"queries": json.loads(lines[-1][len("RESULT "):]), "left": os.listdir(tmpdir)}


def test_every_query_ran(leaks):
    errors = {n: r["error"] for n, r in leaks["queries"].items() if "error" in r}
    assert not errors, errors
    assert len(leaks["queries"]) == len(MEMORY_SINK_QUERIES) + len(SCRATCH_QUERIES)


def test_no_stream_view_left_and_frames_collect(leaks):
    for name, rec in leaks["queries"].items():
        assert rec.get("views") == [], (name, rec)
        assert rec["rows"] > 0, name


def test_no_scratch_directory_left(leaks):
    prefixes = ("sparkgraft_", *SCRATCH_QUERIES.values())
    left = [e for e in leaks["left"] if e.startswith(prefixes)]
    assert not left, left
