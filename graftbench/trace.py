"""Per-layer measurements for a traced run, taken from outside the program:
Spark's StreamingQueryProgress reports, an uncompressed event log, and
timers around calls into the package's public functions.

Every function returns plain numbers. A layer the workload does not run
reports 0: snapshot_stream holds no state, delta_stream runs only the
parse step of the operator chain, and the catalog probe runs in
delta_stream's traced run only.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

QUERY_ID = "sql.streaming.queryId"
BATCH_ID = "streaming.sql.batchId"
JOB_GROUP = "spark.jobGroup.id"


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    """For phases Spark reports in whole milliseconds, where a median of
    a few-ms phase would repeat the same integer run after run."""
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


# -- streaming.pipeline and streaming.stateful: progress reports -------------


def pipeline_metrics(run, messages: int) -> dict[str, float]:
    d = [r["durationMs"] for r in run.reports]
    add = _median(x.get("addBatch", 0) for x in d)
    sink = _median(run.sink_ms.values())
    return {
        "pipeline.add_batch_ms": add,
        "pipeline.sink_ms": sink,
        "pipeline.route_overhead_ms": _median(
            x.get("addBatch", 0) - run.sink_ms.get(r["batchId"], 0.0)
            for x, r in zip(d, run.reports)
        ),
        "pipeline.commit_ms": _mean(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d),
        "pipeline.offsets_ms": _mean(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d),
        "pipeline.query_planning_ms": _mean(x.get("queryPlanning", 0) for x in d),
        "pipeline.source_reads_per_message": sum(r["numInputRows"] for r in run.reports) / messages,
    }


def stateful_metrics(run) -> dict[str, float]:
    ops = [r["stateOperators"][0] for r in run.reports if r.get("stateOperators")]
    return {
        "stateful.update_ms": _mean(o["allUpdatesTimeMs"] for o in ops),
        "stateful.commit_ms": _mean(o["commitTimeMs"] for o in ops),
        "stateful.state_rows": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "stateful.state_bytes": float(ops[-1]["memoryUsedBytes"]) if ops else 0.0,
        "stateful.us_per_key": _median(
            1e3 * o["allUpdatesTimeMs"] / o["numRowsUpdated"]
            for o in ops if o["numRowsUpdated"]
        ),
    }


# -- Spark execution: the event log ------------------------------------------


class EventLog:
    """Jobs, stages and tasks of one uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        self.job_props: dict[int, dict] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)
        self.job_span: dict[int, list[int]] = {}  # [submitted, completed] ms
        # Spark 4 writes the v2 layout: eventlog_v2_<app>/events_<n>_<app>
        for path in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        self.job_props[ev["Job ID"]] = ev.get("Properties") or {}
                        self.job_stages[ev["Job ID"]] = ev["Stage IDs"]
                        self.job_span[ev["Job ID"]] = [ev["Submission Time"]] * 2
                    elif kind == "SparkListenerJobEnd":
                        self.job_span[ev["Job ID"]][1] = ev["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        self.stage_tasks[ev["Stage ID"]].append(ev)
        if not self.job_props:
            raise RuntimeError(f"no Spark jobs found in the event log under {log_dir}")

    def jobs(self, **props) -> list[int]:
        return [
            j for j, p in self.job_props.items()
            if all(p.get(k) == v for k, v in props.items())
        ]

    def span_ms(self, jobs: list[int]) -> float:
        """Milliseconds from the first of ``jobs`` submitted to the last
        one completed."""
        if not jobs:
            return 0.0
        return float(max(self.job_span[j][1] for j in jobs) - min(self.job_span[j][0] for j in jobs))

    def summary(self, jobs: list[int]) -> dict[str, float]:
        """Work of ``jobs``: stages that ran tasks, tasks, shuffle and
        spill bytes, executor and GC time, and task skew (max over median
        task run time)."""
        stages = {s for j in jobs for s in self.job_stages[j] if self.stage_tasks.get(s)}
        tasks = [t for s in stages for t in self.stage_tasks[s]]
        metrics = [t.get("Task Metrics") or {} for t in tasks]
        run_ms = [m.get("Executor Run Time", 0) for m in metrics]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "shuffle_write_bytes": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for m in metrics
            ),
            "spill_bytes": sum(
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for m in metrics
            ),
            "executor_run_ms": sum(run_ms),
            "gc_ms": sum(m.get("JVM GC Time", 0) for m in metrics),
            "task_skew": max(run_ms) / max(statistics.median(run_ms), 1) if run_ms else 0.0,
        }


def exec_metrics(log: EventLog, run) -> dict[str, float]:
    """Per timed micro-batch, from the event log's job summaries: the
    median of counts and ratios, the mean of bytes and milliseconds."""
    per_batch = [
        log.summary(log.jobs(**{QUERY_ID: run.query_id, BATCH_ID: str(r["batchId"])}))
        for r in run.reports
    ]
    out = {"pipeline.jobs_per_batch": _median(b["jobs"] for b in per_batch)}
    for key in ("stages", "tasks", "task_skew"):
        out[f"exec.{key}"] = _median(b[key] for b in per_batch)
    for key in ("shuffle_write_bytes", "spill_bytes", "executor_run_ms", "gc_ms"):
        out[f"exec.{key}"] = _mean(b[key] for b in per_batch)
    return out


# -- operators: self time per step on one materialized batch -----------------

OPERATOR_STEPS = ("parse", "dedup", "explode", "indicators", "signals", "serialize")
PROBE_REPS = 5
SHORT_CALLS = 20000


def _snapshot_prefixes(raw):
    """The steps of ``analyze_history_batch`` (dedup route) plus the
    sink's serialization, as cumulative prefixes."""
    from airflow_kafka_spark_spark.operators.dedup import latest_message_per_key
    from airflow_kafka_spark_spark.operators.indicators import with_indicators
    from airflow_kafka_spark_spark.operators.parse import (
        explode_history,
        parse_history_messages,
    )
    from airflow_kafka_spark_spark.operators.serialize import (
        to_kafka_records,
        to_processed,
    )
    from airflow_kafka_spark_spark.operators.signals import with_suggestion

    dedup = ["timestamp", "offset"]
    parsed = parse_history_messages(raw, carry_cols=dedup)
    kept = latest_message_per_key(parsed, ["symbol"], dedup).drop(*dedup)
    quotes = explode_history(kept)
    ind = with_indicators(quotes)
    sig = with_suggestion(ind)
    return {
        "parse": parsed,
        "dedup": kept,
        "explode": quotes,
        "indicators": ind,
        "signals": sig,
        "serialize": to_kafka_records(to_processed(sig)),
    }


def _delta_prefixes(raw):
    """delta_stream's only operator step before its state: the
    ``quotefeed_deltas`` parse."""
    from airflow_kafka_spark_spark.streaming.stateful import quotefeed_deltas

    return {"parse": quotefeed_deltas(raw)}


OPERATOR_CHAINS = {"snapshot_stream": _snapshot_prefixes, "delta_stream": _delta_prefixes}


def operator_metrics(spark, path: str, workload: str) -> dict[str, float]:
    """Self time of each step of ``workload``'s operator chain = median
    time of its prefix written to ``noop`` minus that of the previous
    prefix, on one cached cycle file. Steps the workload does not run
    report 0."""
    raw = spark.read.parquet(path).cache()
    raw.count()
    prefixes = OPERATOR_CHAINS[workload](raw)
    times: dict[str, list[float]] = defaultdict(list)
    for rep in range(PROBE_REPS + 1):  # the first pass only warms the chain
        for step, df in prefixes.items():
            spark.sparkContext.setJobGroup(f"op:{step}" if rep else "op:warm", step)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if rep:
                times[step].append((time.perf_counter() - t0) * 1e3)
    spark.sparkContext.setJobGroup("bench", "bench")
    out = {f"operators.{step}.self_ms": 0.0 for step in OPERATOR_STEPS}
    out["operators.dedup.kept_share"] = 0.0
    prev = 0.0
    for step in prefixes:
        t = _median(times[step])
        out[f"operators.{step}.self_ms"] = t - prev
        prev = t
    if "dedup" in prefixes:
        out["operators.dedup.kept_share"] = prefixes["dedup"].count() / prefixes["parse"].count()
    raw.unpersist()
    return out


def dedup_shuffle_bytes(log: EventLog) -> float:
    jobs = log.jobs(**{JOB_GROUP: "op:dedup"})
    return log.summary(jobs)["shuffle_write_bytes"] / PROBE_REPS if jobs else 0.0


# -- functions.ema: direct calls, no Spark -----------------------------------


def ema_metrics(series: list[np.ndarray]) -> dict[str, float]:
    """Both kernel shapes on a workload's close series: whole series
    (snapshot_stream's MACD) and seeded one-bar calls (delta_stream's
    continuation)."""
    from airflow_kafka_spark_spark.functions.ema import (
        ema_recurrence,
        ema_recurrence_state,
    )

    rows = sum(len(s) for s in series)
    t0 = time.perf_counter_ns()
    for s in series:
        ema_recurrence_state(s, 26)
    state_ns = (time.perf_counter_ns() - t0) / rows
    # the delta path's shape: prepend the carried value, run, drop the seed
    pairs = [np.array([s[0], s[-1]]) for s in series]
    t0 = time.perf_counter_ns()
    for i in range(SHORT_CALLS):
        ema_recurrence(pairs[i % len(pairs)], 12)
    short_us = (time.perf_counter_ns() - t0) / SHORT_CALLS / 1e3
    return {"ema.state_ns_per_row": state_ns, "ema.short_call_us": short_us}


# -- plans.catalog / ext: the headline queries -------------------------------

# rows-only entries (no SQL oracle) and the row count their query asks for
ROWS_ONLY = {"ann_pq": 10}  # top k=10 neighbours of one vector


def _cell(v):
    """A result cell in a form both engines render alike: floats stay
    floats (compared exactly), everything else becomes its string."""
    if isinstance(v, (float, np.floating)):
        # + 0.0 turns -0.0 into 0.0, which compares equal, so both sort alike
        return None if np.isnan(v) else float(v) + 0.0
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.ndarray):
        v = v.tolist()
    return str(v)


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    """Column names and the rows in an order-insensitive canonical form."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def catalog_check(spark, sf_dir: str, names: list[str], workers: int) -> int:
    """Run each headline query once, untimed, and compare its rows with
    DuckDB running the catalog's oracle SQL on the same tables (rows-only
    entries by count). Returns the number of queries that differ. The
    pass also warms every query's plan shapes for the timed pass; it runs
    ``workers`` queries at a time, since most of a cold query is
    single-threaded planning and code generation."""
    import duckdb

    from airflow_kafka_spark_spark.plans.catalog import CATALOG
    from airflow_kafka_spark_spark.sources.files import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected = {
        n: ROWS_ONLY[n] if n in ROWS_ONLY else _rows(con.execute(CATALOG[n].oracle).df())
        for n in names
    }
    con.close()

    def differs(name) -> bool:
        got = CATALOG[name].fn(spark, sf_dir).toPandas()
        return (len(got) if name in ROWS_ONLY else _rows(got)) != expected[name]

    with ThreadPoolExecutor(workers) as pool:
        return sum(pool.map(differs, names))


def catalog_pass(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """One timed pass: each query's build (the catalog call, including
    any planning jobs it runs) and its write to ``noop``."""
    from airflow_kafka_spark_spark.plans.catalog import CATALOG

    out = {}
    for name in names:
        spark.sparkContext.setJobGroup(f"catbuild:{name}", name)
        t0 = time.perf_counter()
        df = CATALOG[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        spark.sparkContext.setJobGroup(f"cat:{name}", name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        out[f"catalog.{name}.build_ms"] = (t1 - t0) * 1e3
        out[f"catalog.{name}.write_ms"] = (t2 - t1) * 1e3
    spark.sparkContext.setJobGroup("bench", "bench")
    return out


def catalog_log_metrics(log: EventLog, timed: dict[str, float], names: list[str]) -> dict[str, float]:
    """Split each query's write into execution (first job submitted to
    last job completed) and the rest of the write call, which is the
    Catalyst phases (analysis, optimization, physical planning) of the
    write; add the shuffle bytes of every job the query ran, build and
    write."""
    out = {}
    for name in names:
        write_jobs = log.jobs(**{JOB_GROUP: f"cat:{name}"})
        exec_ms = log.span_ms(write_jobs)
        jobs = log.jobs(**{JOB_GROUP: f"catbuild:{name}"}) + write_jobs
        out[f"catalog.{name}.build_ms"] = timed[f"catalog.{name}.build_ms"]
        out[f"catalog.{name}.plan_ms"] = timed[f"catalog.{name}.write_ms"] - exec_ms
        out[f"catalog.{name}.exec_ms"] = exec_ms
        out[f"catalog.{name}.shuffle_bytes"] = float(log.summary(jobs)["shuffle_write_bytes"])
    return out


# -- session -----------------------------------------------------------------


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
