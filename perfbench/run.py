#!/usr/bin/env python3
"""The repository benchmark: the reference ingest flow, in bulk and trickle.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. One driver process, one Spark session on
``local[<cores>]``, one client in a closed loop. Inputs come from
``--seed``. Everything the run writes (raw objects, curated parquet,
checkpoints, warehouse, Spark scratch, event log) lives in a private
workspace under ``.perfbench/`` that is removed on exit; a traced run
leaves its spans in ``.perfbench/traces/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
run's detail, wall-clock latencies included. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the layer entry points
(``trace.py``), enables a plain-JSON event log and reports the
per-layer metrics instead. ``perfbench/README.md`` maps each per-layer
metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREPARE_REPEATS = 3
DRIVER_MEMORY = "2g"
# median CPU seconds of workloads.YARDSTICK_SQL on the reference host
# (4-core guest, quiet): op_cpu_s is stated at that host's speed
YARDSTICK_REF_CPU_S = 0.40

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "jvm_peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.register_s": "s",
    "land_s": "s",
    "csv_ingest.read_csv_s": "s",
    "csv_ingest.write_partitioned_s": "s",
    "csv_ingest.files_written": "count",
    "csv_ingest.bytes_written": "bytes",
    "csv_ingest.stored_bytes_per_input_byte": "ratio",
    "catalog.refresh_s": "s",
    "sql.golden_s": "s",
    "ingest_stream.start_s": "s",
    "ingest_stream.drain_s": "s",
    "ingest_stream.latestOffset_ms": "ms",
    "ingest_stream.getBatch_ms": "ms",
    "ingest_stream.queryPlanning_ms": "ms",
    "ingest_stream.addBatch_ms": "ms",
    "ingest_stream.walCommit_ms": "ms",
    "ingest_stream.commitOffsets_ms": "ms",
    "ingest_stream.batches": "count",
    "ingest_stream.input_rows": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.driver_gap_s": "s",
    "trace.op_cpu_s": "s",
    "trace.op_p50_s": "s",
    "trace.op_tail_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.span_coverage_min": "ratio",
}


def _stop(spark) -> None:
    """Stop streams, the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def measure(args, ws: str) -> dict:
    from perfbench import eventlog, proc, stats, trace
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    from aws_healthcare_etl_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
        # a fixed-size, pre-touched heap (-Xms = spark.driver.memory) keeps
        # the peak RSS from following run-to-run differences in how much of
        # the heap the garbage collector happened to touch; JIT compiler
        # threads that never exit let proc.tree_cpu_s leave their time out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(ws, 'tmp')} -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    log_dir = os.path.join(ws, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    get_spark_s = time.perf_counter() - t1
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    workload = WORKLOADS[args.workload](spark, ws, args.seed, tracer)
    try:
        prepare_s = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            workload.prepare()
            prepare_s.append(time.perf_counter() - t)
        register_s = 0.0
        with trace.installed(tracer) if args.trace else contextlib.nullcontext():
            t = time.perf_counter()
            workload.warm_up()
            warm_s = time.perf_counter() - t
            if args.trace:
                # the table is registered once, during warm-up
                register_s = sum(
                    s.end - s.start for s in tracer.spans if s.name == "catalog.register"
                )
                tracer.spans.clear()
            workload.mark()
            # a traced run makes at least two operations, so counts can be
            # checked to repeat
            host = proc.cpu_times()
            loop_s = workload.run(args.seconds, min_ops=2 if args.trace else 1)
            steal = proc.steal_share(host, proc.cpu_times())
        t = time.perf_counter()
        workload.verify()
        verify_s = time.perf_counter() - t
        rss_mb = proc.peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        _stop(spark)

    lat, cpu, yard = workload.latencies, workload.unit_cpu_s, workload.yardstick_cpu_s
    if not lat:
        raise RuntimeError("no operation completed")
    pct, tail_s = stats.tail(lat)
    loop = {
        "op_cpu_s": stats.median(cpu) * YARDSTICK_REF_CPU_S / stats.median(yard),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail_s,
        "ops_per_s": len(cpu) / loop_s,
    }
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, **loop,
        "samples": len(lat), "tail_percentile": pct, "loop_s": loop_s,
        "session_s": session_s, "prepare_s": prepare_s, "warm_up_s": warm_s,
        "verify_s": verify_s, "host_steal_share": steal,
        "raw_op_cpu_s": stats.median(cpu), "yardstick_cpu_s": stats.median(yard),
        "latencies_s": [round(x, 4) for x in lat],
        "unit_cpu_s": [round(x, 3) for x in cpu],
        "yardstick_cpu_each_s": [round(x, 3) for x in yard],
    }}))
    result = {
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
    }
    if not args.trace:
        values = {
            "setup_s": session_s + stats.median(prepare_s) + warm_s,
            "op_cpu_s": loop["op_cpu_s"],
            "jvm_peak_rss_mb": rss_mb,
        }
        units = END_TO_END_UNITS
    else:
        log_files = os.listdir(log_dir)
        log = eventlog.read(os.path.join(log_dir, log_files[0]))
        rows = trace.per_op(tracer.spans, log)
        values = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        values.update(trace.summarize(rows))
        values.update(workload.layer_values(len(rows)))
        values["catalog.register_s"] = register_s
        values["session.get_spark_s"] = get_spark_s
        values.update({f"trace.{k}": v for k, v in loop.items()})
        units = PER_LAYER_UNITS
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "metrics": values,
                    "counter_repeats": trace.repeats(rows),
                    "operations": rows,
                    "spans": [vars(s) for s in tracer.spans],
                },
                f,
                indent=1,
            )
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest_bulk", "ingest_trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    ws = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(ws, "tmp"))
    # keep every scratch file of Python, the JVM and Spark inside the checkout
    os.environ["TMPDIR"] = os.path.join(ws, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ws, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    try:
        result = measure(args, ws)
    finally:
        shutil.rmtree(ws, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(ws))  # only when no traces were kept
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
