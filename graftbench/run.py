#!/usr/bin/env python3
"""Fixed-work, warm-started benchmark of the streaming engine.

    python3 graftbench/run.py --workload snapshot_stream --seed 1 --seconds 20 --trace 0

Run from the repository root. One run starts a local Spark session,
generates its inputs from ``--seed``, drains an untimed warm-up stream,
times a fixed number of micro-batches (sized from ``--seconds``) and then
checks the engine's outputs. The last line of standard output is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under ``--trace 0`` and the per-layer metrics
under ``--trace 1`` (event log on, operator and kernel probes after the
timed region, and on delta_stream a checked and a timed pass of the 23
headline catalog queries). The line before it records the run's
environment, its batch times and a steadiness ratio. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_kafka_spark_spark"

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "batch_p50_ms": "ms",
    "batch_p75_ms": "ms",
}
PER_LAYER = {
    "pipeline.add_batch_ms": "ms",
    "pipeline.sink_ms": "ms",
    "pipeline.route_overhead_ms": "ms",
    "pipeline.commit_ms": "ms",
    "pipeline.offsets_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.jobs_per_batch": "count",
    "pipeline.source_reads_per_message": "ratio",
    "operators.parse.self_ms": "ms",
    "operators.dedup.self_ms": "ms",
    "operators.explode.self_ms": "ms",
    "operators.indicators.self_ms": "ms",
    "operators.signals.self_ms": "ms",
    "operators.serialize.self_ms": "ms",
    "operators.dedup.shuffle_bytes": "bytes",
    "operators.dedup.kept_share": "ratio",
    "ema.state_ns_per_row": "ns",
    "ema.short_call_us": "us",
    "stateful.update_ms": "ms",
    "stateful.commit_ms": "ms",
    "stateful.state_rows": "count",
    "stateful.state_bytes": "bytes",
    "stateful.us_per_key": "us",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.task_skew": "ratio",
    "session.first_batch_ms": "ms",
    "session.jvm_peak_rss_mb": "MiB",
}
# the 23 headline queries of plans.catalog, probed in delta_stream's traced run
CATALOG_QUERIES = [
    "ma_windows", "signal_cascade", "jaccard_pairs", "jaccard_pairs_capped",
    "minhash_lsh", "knn_cosine", "ann_pq", "text_stats", "chunk_dedup",
    "bm25_topk", "containment_pairs_capped", "zscore_outliers", "drift_tvd",
    "asof_join_purchase", "session_windows", "funnel_conversion",
    "q1_pricing_summary", "q6_revenue", "q3_topk_join", "q5_multiway_join",
    "q9_product_profit", "triangle_count", "pagerank_dangling",
]
CATALOG_METRICS = {"build_ms": "ms", "plan_ms": "ms", "exec_ms": "ms", "shuffle_bytes": "bytes"}
PER_LAYER.update(
    (f"catalog.{q}.{m}", u) for q in CATALOG_QUERIES for m, u in CATALOG_METRICS.items()
)
CATALOG_PROBE_WORKLOAD = "delta_stream"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["snapshot_stream", "delta_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _prepare_env(run_dir: str) -> dict[str, str]:
    """Point every temporary location of Spark and its Python workers into
    this run's own directory; return the extra Spark confs that do it."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    # a heap sized once at start, so runs do not differ in when it grows
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{mem}",
        "spark.eventLog.dir": dirs["events"],
        "spark.eventLog.compress": "false",
    }


def run(args, run_dir: str, lock, t_start: float) -> tuple[dict, dict]:
    import gen
    import procs
    import streams
    import trace

    conf = _prepare_env(run_dir)
    conf["spark.eventLog.enabled"] = "true" if args.trace else "false"
    cpus = len(os.sched_getaffinity(0))

    from airflow_kafka_spark_spark.session import build_session

    spark = build_session(app_name="graftbench", master=f"local[{cpus}]", extra_conf=conf)
    session_s = time.perf_counter() - t_start
    jvm = spark.sparkContext._gateway.proc
    lock.record(procs.descendants(os.getpid()))
    try:
        def work(name: str) -> str:
            return os.path.join(run_dir, name)

        n_timed = streams.timed_batches(args.workload, args.seconds)
        ticks0 = cpu_ticks()
        res = streams.WORKLOADS[args.workload](spark, work, args.seed, n_timed, cpus)
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        timed, warm = res["timed"], res["warm"]
        batch_ms = timed.batch_ms
        half = len(batch_ms) // 2
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "timed_batches": len(batch_ms),
            "warmup_batches": len(warm.batch_ms),
            "batch_ms": batch_ms,
            "warmup_batch_ms": warm.batch_ms,
            "setup_phases": {"session_s": session_s, **res["setup_phases"]},
            # > 1: batches slow down through the timed region (warm-up
            # leaking in would read < 1)
            "steadiness": statistics.median(batch_ms[half:]) / statistics.median(batch_ms[:half]),
            "env": {
                "nproc": os.cpu_count(),
                "cpus_usable": cpus,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "spark": spark.version,
                "pyarrow": __import__("pyarrow").__version__,
                "pandas": __import__("pandas").__version__,
                # CPU time the hypervisor gave to other guests during the run
                "steal_share": ticks[1] / max(ticks[0], 1),
                "scan_partitions_per_input": spark.read.parquet(res["probe_input"]).rdd.getNumPartitions(),
            },
        }
        metrics = {
            "setup_s": res["setup_done"] - t_start,
            "rows_per_s": timed.rows / timed.wall_s,
            "batch_p50_ms": statistics.median(batch_ms),
            "batch_p75_ms": float(np.percentile(batch_ms, 75)),
        }
        layers, catalog = {}, None
        attempted, failed = res["attempted"], res["failed"]
        if args.trace:
            probe = res["probe_input"]
            marks = [time.perf_counter()]
            layers.update(trace.pipeline_metrics(timed, res["messages"]))
            layers.update(trace.stateful_metrics(timed))
            layers.update(trace.operator_metrics(spark, probe, args.workload))
            layers.update(trace.ema_metrics(gen.message_closes(probe)))
            marks.append(time.perf_counter())
            if args.workload == CATALOG_PROBE_WORKLOAD:
                sf_dir = gen.write_catalog_tables(work("catalog"), args.seed)
                attempted += len(CATALOG_QUERIES)
                failed += trace.catalog_check(spark, sf_dir, CATALOG_QUERIES, cpus)
                marks.append(time.perf_counter())
                catalog = trace.catalog_pass(spark, sf_dir, CATALOG_QUERIES)
                marks.append(time.perf_counter())
            info["probe_phases"] = dict(zip(
                ("operators_and_ema_s", "catalog_check_s", "catalog_pass_s"), np.diff(marks).tolist()
            ))
            layers["session.first_batch_ms"] = warm.batch_ms[0]
            layers["session.jvm_peak_rss_mb"] = trace.peak_rss_mb(jvm.pid)
        correct = failed == 0 and len(batch_ms) == n_timed
        result = {"correct": correct, "attempted": attempted, "failed": failed}
    finally:
        children = procs.descendants(os.getpid())
        lock.record(children)
        try:
            spark.stop()  # fails when a signal cut a gateway call short
        finally:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            procs.wait_gone(children, timeout_s=30)

    if args.trace:
        log = trace.EventLog(conf["spark.eventLog.dir"])
        layers.update(trace.exec_metrics(log, timed))
        layers["operators.dedup.shuffle_bytes"] = trace.dedup_shuffle_bytes(log)
        if catalog is None:
            layers.update((k, 0.0) for k in PER_LAYER if k.startswith("catalog."))
        else:
            layers.update(trace.catalog_log_metrics(log, catalog, CATALOG_QUERIES))
        info["end_to_end_traced"] = metrics
        chosen = {k: (layers[k], u) for k, u in PER_LAYER.items()}
    else:
        chosen = {k: (metrics[k], u) for k, u in END_TO_END.items()}
    result["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()}
    return info, result


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"graftbench: engine package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import procs

    work_root = os.path.join(HERE, ".work")
    lock = procs.RunLock(os.path.join(work_root, "active.json"))
    try:
        lock.acquire()
    except RuntimeError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 3
    # no earlier run is alive, so any run directory left here is stale
    for name in os.listdir(work_root):
        if name != os.path.basename(lock.path):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    try:
        info, result = run(args, run_dir, lock, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        lock.release()
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
