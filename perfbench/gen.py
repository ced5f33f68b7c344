"""Seeded input generator for the ingest workloads.

Pure numpy/pyarrow: no Spark, so the same seed gives byte-identical
inputs on every run and the generator can be unit tested alone.
``healthcare_csv`` writes one landed object of the reference flow
(``patient_id,encounter_id,diagnosis,amount``) and returns the exact row
count and ``amount`` checksum in cents that ingest must reproduce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

DIAGNOSES = (
    "E11.9", "I10", "J45.909", "M54.5", "K21.9", "F32.9", "E78.5", "N39.0",
    "J06.9", "R51", "I25.10", "Z00.00", "M17.11", "G43.909", "L40.0", "H52.4",
)


@dataclass(frozen=True)
class CsvObject:
    """One generated CSV object and the facts ingest must reproduce."""

    path: str
    rows: int
    amount_cents: int
    nbytes: int


def _padded(prefix: str, values: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(values), pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def healthcare_csv(path: str, seed: int, rows: int, first_encounter: int) -> CsvObject:
    """Write a healthcare-claims CSV with a header row to ``path``."""
    rng = np.random.default_rng(seed)
    cents = rng.integers(500, 2_500_000, rows)
    table = pa.table(
        {
            "patient_id": _padded("P", rng.integers(0, 10_000_000, rows), 7),
            "encounter_id": pa.array(
                np.arange(first_encounter, first_encounter + rows, dtype=np.int64)
            ),
            "diagnosis": pa.array(np.array(DIAGNOSES)[rng.integers(0, len(DIAGNOSES), rows)]),
            "amount": pa.array(cents / 100.0),
        }
    )
    pacsv.write_csv(table, path)
    return CsvObject(path, rows, int(cents.sum()), os.path.getsize(path))
