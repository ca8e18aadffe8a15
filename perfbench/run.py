"""Benchmark of the multi-db query engine, definition in, rows or JSON out.

    python3 perfbench/run.py --workload dsl_concurrent --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout of the engine.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  The line before it, starting ``# host``, holds host
diagnostics that are not metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "1g"
NEEDED = ["__spark_entry__.py", "bench.py", "tests/test_oracle_parity.py",
          "concept_multi_db_query_engine_spark/pipeline.py"]

E2E_UNITS = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
    "throughput_ops": "ops/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "access.resolve_ms": "ms", "query_validation.validate_ms": "ms",
    "planner.plan_ms": "ms", "resolver.resolve_ms": "ms",
    "dialects.render_ms": "ms", "builder.build_ms": "ms",
    "builder.py4j_calls": "count", "sources.read_ms": "ms",
    "sources.reads": "count", "catalyst.plan_ms": "ms",
    "spark.action_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "pipeline.map_ms": "ms", "cache.get_many_ms": "ms",
    "cache.hit_ratio": "ratio", "http_server.handle_ms": "ms",
    "http_client.self_ms": "ms", "http.response_bytes": "bytes",
    "operators.construct_ms": "ms", "operators.construct_jobs": "count",
    "operators.action_ms": "ms", "spark.persistent_rdds": "count",
    "session.conf_writes": "count", "jvm.gc_ms": "ms",
}
# span name -> per-layer metric holding its self time
SPAN_METRICS = {
    "access.resolve": "access.resolve_ms",
    "query_validation.validate": "query_validation.validate_ms",
    "planner.plan": "planner.plan_ms", "resolver.resolve": "resolver.resolve_ms",
    "dialects.render": "dialects.render_ms", "builder.build": "builder.build_ms",
    "sources.read": "sources.read_ms", "catalyst.plan": "catalyst.plan_ms",
    "spark.action": "spark.action_ms", "pipeline.query": "pipeline.map_ms",
    "cache.get_many": "cache.get_many_ms",
    "http_server.handle": "http_server.handle_ms",
    "http_client.query": "http_client.self_ms",
}


def _isolate() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # a fixed-size heap: the JVM's resident set then follows the work done,
    # not when the collector chose to grow the heap
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} --driver-java-options "
        f"'-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    os.chdir(WORK)
    sys.path[:0] = [ROOT, HERE]


def _layers(tracer, workload, spark) -> dict[str, float]:
    from measure import spark_counters

    self_ms, counts = tracer.window
    n = len(workload.records)
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for span, metric in SPAN_METRICS.items():
        out[metric] = self_ms.get(span, 0.0) / n
    out["sources.reads"] = tracer.window_spans.get("sources.read", 0) / n
    for key in ("builder.py4j_calls", "http.response_bytes"):
        out[key] = counts.get(key, 0) / n
    if counts.get("cache.keys"):
        out["cache.hit_ratio"] = counts["cache.hits"] / counts["cache.keys"]
    for key, value in spark_counters(spark, tracer.window_groups).items():
        out[key] = value / n
    out["jvm.gc_ms"] = workload.diag["jvm_gc_ms"] / n
    out.update(getattr(workload, "operator_layers", {}))
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dsl_concurrent", "http_concurrent"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    _isolate()

    import datagen
    import workloads
    from bench import _ScopedCpu
    from measure import peak_rss_mb

    cls = workloads.WORKLOADS[args.workload]
    t_data = time.perf_counter()
    sf_dir = datagen.generate(os.path.join(WORK, "data", f"sf{cls.sf}"),
                              cls.sf)
    data_s = time.perf_counter() - t_data

    from concept_multi_db_query_engine_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cpus=cpus)
    try:
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install(spark)
        workload = cls(spark, sf_dir, args.seed, tracer, cpus)
        try:
            workload.warm()
            setup_s = time.perf_counter() - T_START - data_s
            if tracer is not None:
                tracer.reset()
            scoped = _ScopedCpu(spark)
            _, _, _, cotenant, window = scoped.measure(
                lambda: workload.measure(args.seconds))
            # before the operator probe and the oracle, so that neither
            # counts towards the process tree's peak
            rss_mb = peak_rss_mb()
            workload.diag["cotenant_cpu_share"] = round(cotenant, 4)
            if tracer is not None:
                tracer.freeze()
            workload.after_window()
        finally:
            workload.close()

        import __spark_entry__ as entry
        from checks import Oracle

        t_check = time.perf_counter()
        oracle = Oracle(sf_dir, entry.oracle_sql())
        failed, correct = workload.check(oracle)
        workload.diag["check_s"] = round(time.perf_counter() - t_check, 3)
        attempted = len(workload.records)
        values = workload.metrics(window)
        values["setup_s"] = setup_s
        values["peak_rss_mb"] = rss_mb
        units = E2E_UNITS
        if args.trace:
            # the traced run's end-to-end figures, for the tracing overhead
            workload.diag["traced_end_to_end"] = values
            values = _layers(tracer, workload, spark)
            units = LAYER_UNITS
    finally:
        _stop(spark)
    workload.diag.update(
        window_s=round(window, 3), loadavg_1m=os.getloadavg()[0],
        pg_text_unrunnable_on_duckdb=sorted(oracle.pg_unrunnable),
        failed_ops=sorted(workload.failures),
        samples={k: sum(op.kind == k for op, _, _ in workload.records)
                 for k in ("execute", "count", "compile", "lookup")})
    print("# host " + json.dumps(workload.diag))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
