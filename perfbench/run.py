#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload lineage_serve --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout of the repository. The inputs are made
from ``--seed`` (and cached per seed under ``.perfbench/``), the program
is set up once from the JVM launch to ready (warm-up included), then the
workload is measured for ``--seconds`` and every output is checked.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` measures
untraced, traced, then untraced again and prints the per-layer metrics,
including the tracing overhead. The last line of standard output is the
result object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hive_parse_lineage_spark"

END_TO_END = {
    "setup_s": "s", "success_ratio": "ratio",
    "latency_p50_ms": "ms", "latency_tail_ms": "ms",
    "throughput_per_s": "1/s", "recall": "ratio",
}

PER_LAYER = {
    "peak_rss_mb": "MiB",
    "session.get_spark_s": "s", "sources.load_tables_s": "s",
    "setup.first_op_s": "s", "setup.warm_up_s": "s",
    "server.request_ms.p50": "ms", "server.request_ms.p99": "ms",
    "server.overhead_ms.p50": "ms", "server.overhead_ms.p99": "ms",
    "engine.lineage_ms.p50": "ms", "engine.lineage_ms.p99": "ms",
    "engine.tables_report_ms.p50": "ms", "engine.run_ms.p50": "ms",
    "plans.lineage.split_ms": "ms",
    "plans.lineage.extract_ms_per_stmt": "ms",
    "plans.lineage.spark_floor_ms_per_stmt": "ms",
    "plans.lineage.walk_ms_per_stmt": "ms",
    "plans.lineage.json_fallback_ratio": "ratio",
    "plans.lineage.edges_per_stmt": "count",
    "queries.fetch_ms.p50": "ms", "queries.fetch_ms.p95": "ms",
    "queries.family.scan_s": "s", "queries.family.join_s": "s",
    "queries.family.agg_s": "s", "queries.family.window_s": "s",
    "queries.family.setop_s": "s", "queries.family.subquery_s": "s",
    "queries.family.text_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.failed_tasks": "count",
    "spark.executor_busy_ratio": "ratio", "spark.shuffle_write_mb": "MiB",
    "spark.input_mb": "MiB",
    "operators.dedup.exact_s": "s", "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.lsh_useful_ratio": "ratio",
    "operators.dedup.capped_bucket_rows": "count",
    "functions.text.score_s": "s",
    "operators.similarity.exact_topk_s": "s",
    "operators.similarity.lsh_topk_s": "s",
    "operators.similarity.queries_per_s": "1/s",
    "quality.near_dup_recall": "ratio",
    "quality.retrieval_recall_at_10": "ratio",
    "trace.overhead_pct": "%", "trace.spans": "count",
}


def workloads() -> dict:
    from wl_corpus import LlmCorpus
    from wl_lineage import LineageServe
    from wl_sql import SqlDeclared
    return {w.name: w for w in (LineageServe, SqlDeclared, LlmCorpus)}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("lineage_serve", "sql_declared", "llm_corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def prepare_env(tmp: str) -> None:
    """Keep Spark's and Python's scratch files under ``tmp``, pin the core
    count, and let Python workers import the package. Must run before the
    JVM starts."""
    for sub in ("local", "py"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "py"),
    })
    sys.path[:0] = [ROOT, HERE]


def generators_digest() -> str:
    """Short hash of the input generators, so cached inputs are rebuilt
    when a generator changes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(HERE)):
        if name.startswith("gen_") and name.endswith(".py"):
            with open(os.path.join(HERE, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def ensure_tables(inputs: str, seed: int) -> str:
    from gen_tables import write_tables
    out = os.path.join(inputs, "tables")
    if not os.path.isdir(out):
        part = f"{out}.tmp{os.getpid()}"
        write_tables(seed, part)
        os.replace(part, out)
    return out


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin, the parent's pipe, closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def spark_metrics(result: dict, cores: int) -> dict:
    """Per-operation Spark counts from the measured phase's deltas."""
    from tracing import SparkCounters
    tot = {k: sum(d[k] for d in result["deltas"] if d)
           for k in SparkCounters.FIELDS}
    ops = max(1, result["attempted"])
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs_per_op": tot["jobs"] / ops,
        "spark.stages_per_op": tot["stages"] / ops,
        "spark.tasks_per_op": tot["tasks"] / ops,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.executor_busy_ratio":
            tot["run_ms"] / (result["wall_s"] * 1000.0 * cores),
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / mb / ops,
        "spark.input_mb": tot["input_bytes"] / mb / ops,
    }


def run(args: argparse.Namespace, tmp: str) -> dict:
    from common import bench_confs, cpu_ticks, jvm_pid, peak_mb, reset_peak
    from tracing import SparkCounters, Tracer

    inputs = os.path.join(ROOT, ".perfbench", "inputs", generators_digest(),
                          f"seed{args.seed}")
    os.makedirs(inputs, exist_ok=True)
    wl = workloads()[args.workload](args.seed, ensure_tables(inputs, args.seed),
                                    inputs)
    tracer = Tracer(enabled=bool(args.trace))
    untraced = Tracer(enabled=False)
    undo: list = []
    spark = None
    try:
        if args.trace:
            from hive_parse_lineage_spark import engine
            tracer.patch(engine, "load_tables", "sources.load_tables", undo)
        # set-up, from the JVM launch to ready: session, tables, first
        # operation and warm-up
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            from hive_parse_lineage_spark.session import get_spark
            spark = get_spark(extra_confs=bench_confs(tmp))
        wl.load(spark, tracer)
        with tracer.span("setup.first_op"):
            wl.first_op()
        with tracer.span("setup.warm_up"):
            wl.warm_up()
        setup_s = time.perf_counter() - t0
        while undo:
            undo.pop()()
        setup_spans, tracer.spans = tracer.spans, []
        pid = jvm_pid(spark)
        steal0 = cpu_ticks()
        if not args.trace:
            res = wl.measure(args.seconds, untraced)
            attempted, failed = res["attempted"], res["failed"]
            metrics = {
                "setup_s": setup_s,
                "success_ratio": 1.0 - failed / attempted,
                "latency_p50_ms": res["latency_p50_ms"],
                "latency_tail_ms": res["latency_tail_ms"],
                "throughput_per_s": res["throughput_per_s"],
                "recall": res["recall"],
            }
            units = END_TO_END
        else:
            # untraced, traced, untraced: the instruments exist only in the
            # middle pass, and the two untraced passes bracket it so that
            # warming over the run does not bias the overhead either way
            before = wl.measure(args.seconds, untraced)
            from hive_parse_lineage_spark.plans import lineage as plans
            tracer.patch(plans, "split_statements", "plans.lineage.split", undo)
            if hasattr(wl, "instrument"):
                wl.instrument(tracer, undo)
            # peak memory of the traced pass alone: the high-water marks
            # restart from the current RSS (no forced GC: a shrunken heap
            # would make the pass pay to grow it again)
            reset_peak(pid)
            res = wl.measure(args.seconds, tracer, SparkCounters(spark))
            peak = peak_mb(pid)
            while undo:
                undo.pop()()
            after = wl.measure(args.seconds, untraced)
            passes = (before, res, after)
            attempted = sum(r["attempted"] for r in passes)
            failed = sum(r["failed"] for r in passes)
            bare = (before["throughput_per_s"] + after["throughput_per_s"]) / 2
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(wl.layer_metrics(tracer, res))
            metrics.update(spark_metrics(
                res, spark.sparkContext.defaultParallelism))

            def setup_span_s(name: str) -> float:
                return sum(s.ms for s in setup_spans if s.name == name) / 1e3
            metrics.update({
                "session.get_spark_s": setup_span_s("session.get_spark"),
                "sources.load_tables_s": setup_span_s("sources.load_tables"),
                "setup.first_op_s": setup_span_s("setup.first_op"),
                "setup.warm_up_s": setup_span_s("setup.warm_up"),
                "peak_rss_mb": peak,
                "trace.overhead_pct":
                    100.0 * (bare / res["throughput_per_s"] - 1),
                "trace.spans": len(tracer.spans),
            })
            units = PER_LAYER
        steal = [b - a for a, b in zip(steal0, cpu_ticks())]
    finally:
        for restore in reversed(undo):
            restore()
        wl.close()
        if spark is not None:
            stop_spark(spark)
    # CPU time stolen by other guests of the host while measuring: figures
    # taken under heavy steal are not comparable with quiet ones
    print(f"perfbench: set-up {setup_s:.2f} s, cpu steal while measuring "
          f"{100.0 * steal[0] / max(1, steal[1]):.1f} %", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units}}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(tmp)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
