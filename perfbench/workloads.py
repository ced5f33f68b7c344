"""The benchmark's workloads: one client, closed loop, one operation at a time.

An *operation* is one landed object made queryable (``ingest_bulk``) or
one cycle of landed objects drained by the stream (``ingest_trickle``).
Each workload:

- ``prepare()`` generates its seeded inputs into the run's workspace;
- ``warm_up()`` runs untimed operations, so that the JVM has compiled the
  code the operations use before timing starts, and checks their results;
- ``run(seconds)`` is the timed loop: for each operation its wall
  latencies and the CPU time the whole process tree spent on it, the
  CPU time of the yardstick job run after it, and the count of failed
  ones;
- ``verify()`` checks the final outputs outside the timed region.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from pyspark.sql import types as T

from aws_healthcare_etl_pipeline_spark.sources import catalog, csv_ingest
from aws_healthcare_etl_pipeline_spark.streaming import ingest_stream

from . import gen, proc

DATABASE = "perfbench"
TABLE = f"{DATABASE}.athena"
# README's published Athena query over the curated table
GOLDEN_SQL = (
    f"SELECT ingest_date, COUNT(*) AS num_rows FROM {TABLE} "
    "GROUP BY ingest_date ORDER BY ingest_date DESC"
)
CHECKSUM_SQL = (
    f"SELECT ingest_date, COUNT(*) AS n, "
    f"CAST(SUM(CAST(amount AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents "
    f"FROM {TABLE} GROUP BY ingest_date"
)
CSV_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField("encounter_id", T.LongType()),
        T.StructField("diagnosis", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)
STREAM_PROGRESS_KEYS = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
)
# A fixed Spark job that touches no code or data of the package: its CPU
# time measures how fast the host runs Spark work at the moment. Frozen:
# changing it changes what op_cpu_s is normalised by.
YARDSTICK_SQL = "SELECT sum(crc32(cast(id AS string))) FROM range(0, 4000000, 1, 4)"


def ingest_date(i: int) -> str:
    """A distinct partition value per operation, so counts check per object."""
    return time.strftime("%Y-%m-%d", time.gmtime(1_767_225_600 + 86_400 * i))


class Workload:
    WARM_UP: int  # untimed operations before the loop
    UNITS = 1  # what one operation counts in ``attempted``

    def __init__(self, spark, ws: str, seed: int, tracer) -> None:
        self.spark = spark
        self.ws = ws
        self.seed = seed
        self.tracer = tracer
        self.latencies: list[float] = []
        self.unit_cpu_s: list[float] = []  # per operation, divided by UNITS
        self.yardstick_cpu_s: list[float] = []  # one after each operation
        self.attempted = 0
        self.failed = 0
        self.layer_counts: dict[str, float] = {}

    def count(self, key: str, value: float) -> None:
        self.layer_counts[key] = self.layer_counts.get(key, 0.0) + value

    def warm_up(self) -> None:
        for i in range(self.WARM_UP):
            self.op(-1 - i)
            self.yardstick()

    def yardstick(self) -> float:
        cpu = proc.tree_cpu_s()
        self.spark.sql(YARDSTICK_SQL).collect()
        return proc.tree_cpu_s() - cpu

    def mark(self) -> None:
        """Called between warm-up and the timed loop."""
        self.layer_counts.clear()

    def run(self, seconds: float, min_ops: int = 1) -> float:
        start = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() - start < seconds:
            self.attempted += self.UNITS
            cpu = proc.tree_cpu_s()
            try:
                self.latencies += self.op(i)
                self.unit_cpu_s.append((proc.tree_cpu_s() - cpu) / self.UNITS)
                self.yardstick_cpu_s.append(self.yardstick())
            except Exception:
                print(f"perfbench: operation {i} failed", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                self.failed += self.UNITS
            i += 1
        return time.perf_counter() - start

    def layer_values(self, n_ops: int) -> dict[str, float]:
        """Per-operation means of the counters gathered since ``mark``."""
        return {k: v / n_ops for k, v in self.layer_counts.items()}


class _Ingest(Workload):
    """Shared landing, catalog and checksum logic of both ingest workloads."""

    POOL: int
    ROWS: int

    def prepare(self) -> None:
        self.raw = os.path.join(self.ws, "raw")
        self.curated = os.path.join(self.ws, "curated")
        self.pool_dir = os.path.join(self.ws, "pool")
        for d in (os.path.join(self.raw, "incoming"), self.curated, self.pool_dir):
            os.makedirs(d, exist_ok=True)
        self.pool = [
            gen.healthcare_csv(
                os.path.join(self.pool_dir, f"pool-{k}.csv"),
                seed=self.seed * 1_000 + k,
                rows=self.ROWS,
                first_encounter=k * self.ROWS,
            )
            for k in range(self.POOL)
        ]
        self.expected: dict[str, tuple[int, int]] = {}  # date -> (rows, cents)
        self.landed_rows = 0
        self.landed_bytes = 0
        self.next_object = 0
        self.registered = False

    def land(self, date: str) -> float:
        """Atomically publish the next pool object under a fresh key."""
        obj = self.pool[self.next_object % len(self.pool)]
        key = f"incoming/obj-{self.next_object:05d}.csv"
        self.next_object += 1
        os.link(obj.path, os.path.join(self.raw, key))
        rows, cents = self.expected.get(date, (0, 0))
        self.expected[date] = (rows + obj.rows, cents + obj.amount_cents)
        self.landed_rows += obj.rows
        self.landed_bytes += obj.nbytes
        self.last_key = key
        return time.perf_counter()

    def curated_files(self) -> tuple[int, int]:
        files = nbytes = 0
        for root, _, names in os.walk(self.curated):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        return files, nbytes

    def publish(self) -> dict[str, int]:
        """Make new partitions visible and run the golden query."""
        if not self.registered:
            location = os.path.join(self.curated, "athena")  # IngestConfig's curated_prefix
            catalog.register_parquet_table(self.spark, DATABASE, "athena", location)
            self.registered = True
        else:
            catalog.refresh_partitions(self.spark, TABLE)
        with self.tracer.span("sql.golden"):
            df = self.spark.sql(GOLDEN_SQL)
            # collect() reuses the plan the Dataset's QueryExecution holds
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("exec.run"):
                rows = df.collect()
            return {r.ingest_date: r.num_rows for r in rows}

    def verify(self) -> None:
        got = {
            r.ingest_date: (r.n, r.cents) for r in self.spark.sql(CHECKSUM_SQL).collect()
        }
        bad = [d for d, want in self.expected.items() if got.get(d) != want]
        extra = [d for d in got if d not in self.expected]
        if bad or extra:
            print(f"perfbench: checksum mismatch on {sorted(bad + extra)}", file=sys.stderr)
            self.failed += len(bad) + len(extra)

    def mark(self) -> None:
        super().mark()
        self.marked = (*self.curated_files(), self.landed_bytes)

    def layer_values(self, n_ops: int) -> dict[str, float]:
        files, nbytes = self.curated_files()
        files0, nbytes0, landed0 = self.marked
        return {
            **super().layer_values(n_ops),
            "csv_ingest.files_written": (files - files0) / n_ops,
            "csv_ingest.bytes_written": (nbytes - nbytes0) / n_ops,
            "csv_ingest.stored_bytes_per_input_byte": (nbytes - nbytes0)
            / (self.landed_bytes - landed0),
        }


class IngestBulk(_Ingest):
    """Large CSV objects, one ``ingest_csv`` call each with schema inference."""

    POOL = 3
    ROWS = 200_000
    WARM_UP = 4

    def op(self, i: int) -> list[float]:
        date = ingest_date(i)
        with self.tracer.op(i, "object"):
            with self.tracer.span("land"):
                landed = self.land(date)
            csv_ingest.ingest_csv(
                self.spark,
                csv_ingest.IngestConfig(
                    raw_root=self.raw,
                    curated_root=self.curated,
                    object_key=self.last_key,
                    ingest_date=date,
                ),
            )
            counts = self.publish()
        done = time.perf_counter()
        if counts.get(date) != self.expected[date][0]:
            raise RuntimeError(f"{date}: golden count {counts.get(date)} != {self.expected[date][0]}")
        return [done - landed]


class IngestTrickle(_Ingest):
    """Small CSV objects landed in cycles, drained by AvailableNow streaming."""

    POOL = 8
    ROWS = 500
    PER_CYCLE = 3
    UNITS = PER_CYCLE
    WARM_UP = 8

    def prepare(self) -> None:
        super().prepare()
        self.checkpoint = os.path.join(self.ws, "checkpoint")

    def op(self, cycle: int) -> list[float]:
        date = ingest_date(cycle)
        cfg = csv_ingest.IngestConfig(
            raw_root=self.raw, curated_root=self.curated, ingest_date=date
        )
        with self.tracer.op(cycle, "cycle"):
            with self.tracer.span("land"):
                landed = [self.land(date) for _ in range(self.PER_CYCLE)]
            with self.tracer.span("ingest_stream.start"):
                handle = ingest_stream.start_incremental_ingest(
                    self.spark, cfg, CSV_SCHEMA, self.checkpoint, available_now=True
                )
            try:
                with self.tracer.span("ingest_stream.drain"):
                    handle.awaitTermination()
            finally:
                handle.stop()
            counts = self.publish()
        done = time.perf_counter()
        for p in handle.recentProgress:
            for k in STREAM_PROGRESS_KEYS:
                self.count(f"ingest_stream.{k}_ms", p["durationMs"].get(k, 0))
            self.count("ingest_stream.batches", 1)
            self.count("ingest_stream.input_rows", p["numInputRows"])
        want = self.expected[date][0]
        if counts.get(date) != want or sum(counts.values()) != self.landed_rows:
            raise RuntimeError(
                f"{date}: golden count {counts.get(date)} != {want} "
                f"or total {sum(counts.values())} != {self.landed_rows}"
            )
        return [done - t for t in landed]


WORKLOADS = {
    "ingest_bulk": IngestBulk,
    "ingest_trickle": IngestTrickle,
}
