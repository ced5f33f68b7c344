"""Python workers that cannot import the package still run its closures.

The package registers itself with cloudpickle by value, so a
``mapInPandas`` closure may call module-level helpers such as
``decode_image``. These tests start a fresh driver in a subprocess
whose cwd is a temp dir and whose PYTHONPATH is unset: its workers can
only get the package's code through the pickled closures.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])

    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    from aws_healthcare_etl_pipeline_spark.operators.multimodal import (
        decode_image, encode_bmp, encode_ppm, extract_features, perceptual_hash,
    )

    def to_gray(payload):
        img = decode_image(payload)
        return img.astype("float64").mean(axis=2) if img.ndim == 3 else img

    spark = (
        SparkSession.builder.master("local[2]").appName("worker_pickling")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    try:
        rgb = (np.arange(16 * 24 * 3) * 97 % 256).astype(np.uint8).reshape(16, 24, 3)
        gray = (np.arange(9 * 11) * 41 % 256).astype(np.uint8).reshape(9, 11)
        payloads = {1: encode_ppm(rgb), 2: encode_bmp(rgb), 3: encode_ppm(gray)}
        df = spark.createDataFrame(
            [(k, bytearray(v)) for k, v in payloads.items()],
            "doc_id long, payload binary",
        )

        def shapes(it):
            for pdf in it:
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "h": [decode_image(p).shape[0] for p in pdf["payload"]],
                })

        try:
            out["closure"] = sorted(
                [r.doc_id, r.h]
                for r in df.mapInPandas(shapes, "doc_id long, h long").collect()
            )
        except Exception as e:
            out["closure_error"] = str(e)[-400:]

        def expect_phash(payload):
            img = to_gray(payload).astype("float64")
            h8, w8 = img.shape[0] // 8 * 8, img.shape[1] // 8 * 8
            blocks = img[:h8, :w8].reshape(8, h8 // 8, 8, w8 // 8).mean(axis=(1, 3))
            flat = blocks.ravel()
            return sum(1 << j for j in range(60) if flat[j] > flat.mean())

        try:
            feats = extract_features(df, fake=False).collect()
            out["features"] = {
                r.doc_id: [r.mean_intensity, list(r.feature)] for r in feats
            }
            out["features_expected"] = {}
            for k, v in payloads.items():
                img = to_gray(v)
                out["features_expected"][k] = [
                    float(img.mean()),
                    [float(x) for x in (img.astype("float32").ravel() / 255.0)[:16]],
                ]
            out["phash"] = {
                r.doc_id: r.phash for r in perceptual_hash(df, fake=False).collect()
            }
            out["phash_expected"] = {k: expect_phash(v) for k, v in payloads.items()}
        except Exception as e:
            out["operator_error"] = str(e)[-400:]
    finally:
        spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def probe(tmp_path_factory) -> dict:
    tmp_path = tmp_path_factory.mktemp("foreign_cwd")
    script = tmp_path / "probe.py"
    script.write_text(_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, f"probe failed (rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    return json.loads(lines[-1][len("RESULT "):])


def test_closure_calling_decode_image_runs(probe):
    assert "closure_error" not in probe, probe["closure_error"]
    assert probe["closure"] == [[1, 16], [2, 16], [3, 9]]


def test_real_decode_operators_match_in_process_decode(probe):
    assert "operator_error" not in probe, probe["operator_error"]
    assert probe["features"] == probe["features_expected"]
    assert probe["phash"] == probe["phash_expected"]
    # PPM and BMP of the same pixels decode to the same image
    assert probe["phash"]["1"] == probe["phash"]["2"]
