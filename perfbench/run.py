"""Benchmark entry point: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 8 --trace 0

Progress and details go to stderr; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = "4"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jit_warm_s": "s",
    "sources.read_jsonl.s": "s",
    "sources.input_bytes": "bytes",
    "sources.scan_tasks": "count",
    "lognorm.scan_lines.s": "s",
    "lognorm.parse_json.s": "s",
    "lognorm.normalize.s": "s",
    "lognorm.plan_build.s": "s",
    "plugins.apply_chain.s": "s",
    "plugins.filtered": "count",
    "sinks.render_jsonl.s": "s",
    "sinks.write_jsonl_file.s": "s",
    "sinks.write_tasks": "count",
    "sinks.bytes_written": "bytes",
    "sinks.written_ratio": "ratio",
    "sinks.dlq.s": "s",
    "sinks.dlq_records": "count",
    "report.tallies.s": "s",
    "cli.run_batch.cache_build.s": "s",
    "lognorm.json_failed": "count",
    "lognorm.normalized_failed": "count",
    "sinks.records_written": "count",
    "engine.task_busy_s": "s",
    "engine.gc_s": "s",
    "engine.parallelism": "ratio",
    "engine.shuffle_write_bytes": "bytes",
    "engine.tasks": "count",
    "engine.peak_rss_mb": "MB",
    "stream.trigger_overhead_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wait_ms": "ms",
    "stream.batches": "count",
    "stream.rows_per_batch": "count",
    "stream.backlog_files_end": "count",
    "stream.sustained_lines_per_s": "1/s",
    "stream.drain_lines_per_s": "1/s",
    "gen.lag_tail_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _isolate() -> None:
    """Keep every file the engine writes inside the work directory and
    pin the engine's width, so runs compare across machines."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CORES
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import tracing as T
    from workloads import WORKLOADS, log

    tracer = T.Tracer(run_id=f"{workload}-{seed}-{os.getpid()}", enabled=traced)
    wl = WORKLOADS[workload](seed, WORK, tracer)
    t = time.perf_counter()
    wl.prepare()
    log(f"inputs ready in {time.perf_counter() - t:.2f}s (not part of setup_s)")

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from k8s_log_etl_spark.session import get_spark

        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    get_spark_s = time.perf_counter() - t0
    try:
        with tracer.span("warm_up"):
            wl.warm_up(spark)
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s (get_spark {get_spark_s:.2f}s)")
        window = time.perf_counter()
        with tracer.span("measure"):
            res = wl.measure(spark, seconds)
        window = time.perf_counter() - window
        if traced:
            layers = wl.layers(spark, res)
        res.failed += wl.finish()
    finally:
        _stop(spark)
        wl.cleanup()
    log("notes " + json.dumps(res.notes))

    attempted, failed = res.attempted, res.failed
    if traced:
        layers["session.get_spark_s"] = get_spark_s
        layers["engine.peak_rss_mb"] = res.peak_rss_mb
        layers["trace.overhead_ratio"] = tracer.overhead_s / window
        layers["session.jit_warm_s"] = res.notes["jit_warm_s"]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{tracer.run_id}.spans.jsonl")
        tracer.dump(path)
        log(f"spans in {path}; self time: "
            + json.dumps({k: round(v, 3) for k, v in T.self_times(tracer.spans).items()}))
        values, units = layers, PER_LAYER
    else:
        values, units = dict(res.metrics, setup_s=setup_s), END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "k8s_log_etl_spark")):
        print("perfbench: k8s_log_etl_spark not found next to perfbench/", file=sys.stderr)
        return 2
    if importlib.util.find_spec("pyspark") is None:
        print("perfbench: pyspark is not installed", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _isolate()
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
