"""The two stream workloads: set-up, untimed warm-up drain, timed drain and
output check.

Both are closed loops: ``availableNow`` over a directory of cycle files
with ``maxFilesPerTrigger=1``, so each micro-batch is one poll cycle and
the next starts only after the previous one commits. A run times a fixed
number of micro-batches, never a fixed number of seconds.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen

DEDUP = ["timestamp", "offset"]  # kafka_pipeline's dedup order
SNAPSHOT_WARMUP_BATCHES = 6
DELTA_WARMUP_BATCHES = 6
MIN_TIMED_BATCHES = 8
# a workload's batch time on a 4-vCPU host; sizes the fixed batch count
# from --seconds
NOMINAL_BATCH_S = {"snapshot_stream": 3.0, "delta_stream": 2.0}


def timed_batches(workload: str, seconds: int) -> int:
    """The fixed number of timed micro-batches for a ``--seconds`` budget:
    a function of the arguments only, so both sides of a comparison run
    the same work however fast their batches are."""
    return max(MIN_TIMED_BATCHES, int(np.ceil(seconds / NOMINAL_BATCH_S[workload])))


def progress(query) -> list[dict]:
    """Spark's per-trigger StreamingQueryProgress reports as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def drain(query) -> list[dict]:
    """Wait for an ``availableNow`` query to finish; raise its error."""
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"stream {query.name} failed: {query.exception()}")
    return progress(query)


class Run:
    """What one stream drain leaves behind for the metrics."""

    def __init__(self, query_id: str, reports: list[dict],
                 sink_ms: dict[int, float], rows: int):
        self.query_id = query_id
        # batches that read input; the last availableNow trigger may be empty
        self.reports = [r for r in reports if r["numInputRows"] > 0]
        self.sink_ms = sink_ms
        self.rows = rows

    @property
    def wall_s(self) -> float:
        """From the first batch's trigger to the last batch's end: the
        timed region without query start-up and shutdown."""
        first, last = self.reports[0], self.reports[-1]
        span = _epoch_s(last["timestamp"]) - _epoch_s(first["timestamp"])
        return span + last["durationMs"]["triggerExecution"] / 1e3

    @property
    def batch_ms(self) -> list[float]:
        return [float(r["durationMs"]["triggerExecution"]) for r in self.reports]


def _epoch_s(stamp: str) -> float:
    """A progress report's ISO-8601 UTC trigger time in seconds."""
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _reader(spark, schema: str, path: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


# -- snapshot_stream ---------------------------------------------------------

SNAPSHOT_SOURCE_SCHEMA = "key string, value binary, timestamp timestamp, offset long"


def snapshot_digest(processed):
    """The sink's work and the check's subject: serialize to Kafka records,
    then count them and sum xxhash64(key, value) — one job, one row."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.operators.serialize import to_kafka_records

    return to_kafka_records(processed).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("key", "value")).alias("h")
    )


class SnapshotSink:
    def __init__(self):
        self.digests: dict[int, tuple[int, int]] = {}
        self.ms: dict[int, float] = {}

    def __call__(self, processed, batch_id: int) -> None:
        t0 = time.perf_counter()
        row = snapshot_digest(processed).collect()[0]
        self.ms[batch_id] = (time.perf_counter() - t0) * 1e3
        self.digests[batch_id] = (row["n"], row["h"])


def snapshot_expected(spark, paths: list[str], workers: int) -> list[tuple[int, int]]:
    """The check's reference per cycle: ``analyze_history_batch`` as a
    batch job on the first cycle file of each trading day (the day's
    other polls re-send its histories), several files at a time (the
    jobs are mostly single-task stages). Runs after the timed drain."""
    from airflow_kafka_spark_spark.streaming.pipeline import analyze_history_batch

    def one(path):
        row = snapshot_digest(
            analyze_history_batch(spark.read.parquet(path), DEDUP)
        ).collect()[0]
        return row["n"], row["h"]

    first = {}
    for c in range(len(paths)):
        first.setdefault(gen.snapshot_day(c), c)
    with ThreadPoolExecutor(workers) as pool:
        per_day = dict(zip(first, pool.map(one, [paths[c] for c in first.values()])))
    return [per_day[gen.snapshot_day(c)] for c in range(len(paths))]


def run_snapshot(spark, work, seed: int, n_timed: int, workers: int) -> dict:
    from airflow_kafka_spark_spark.streaming.pipeline import start_pipeline

    marks = [time.perf_counter()]
    warm_in, timed_in = work("in_warm"), work("in_timed")
    gen.write_snapshot_cycles(warm_in, seed, SNAPSHOT_WARMUP_BATCHES, "warmup")
    timed_paths = gen.write_snapshot_cycles(timed_in, seed, n_timed)
    marks.append(time.perf_counter())

    def stream(src_dir, ck, name):
        sink = SnapshotSink()
        query = start_pipeline(
            _reader(spark, SNAPSHOT_SOURCE_SCHEMA, src_dir),
            sink=sink,
            checkpoint_dir=ck,
            dedup_order_cols=DEDUP,
            query_name=name,
            available_now=True,
        )
        reports = drain(query)
        rows = sum(n for n, _ in sink.digests.values())
        return Run(str(query.id), reports, sink.ms, rows), sink

    warm, _ = stream(warm_in, work("ck_warm"), "snapshot_warmup")
    setup_done = time.perf_counter()
    phases = dict(zip(("generate_s", "warmup_s"), np.diff(marks + [setup_done])))
    timed, sink = stream(timed_in, work("ck_timed"), "snapshot_timed")

    expected = snapshot_expected(spark, timed_paths, workers)
    got = [sink.digests.get(b) for b in range(n_timed)]
    failed = sum(g != e for g, e in zip(got, expected))
    return {
        "warm": warm,
        "timed": timed,
        "setup_done": setup_done,
        "setup_phases": {k: float(v) for k, v in phases.items()},
        "attempted": n_timed,
        "failed": failed + max(0, len(sink.digests) - n_timed),
        "messages": gen.messages_per_cycle() * n_timed,
        "probe_input": timed_paths[-1],
    }


# -- delta_stream ------------------------------------------------------------

DELTA_SOURCE_SCHEMA = "symbol string, current_price double, message string"


class DeltaSink:
    def __init__(self):
        self.frames: dict[int, object] = {}
        self.ms: dict[int, float] = {}

    def __call__(self, macd, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.frames[batch_id] = macd.select(
            "symbol", "n_rows", "macd_line", "macd_signal"
        ).toPandas()
        self.ms[batch_id] = (time.perf_counter() - t0) * 1e3


def delta_expected(closes: dict[str, np.ndarray]) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """MACD line and signal per symbol from ``ema_recurrence`` applied to
    the generator's own close series in one call each."""
    from airflow_kafka_spark_spark.functions.ema import ema_recurrence

    out = {}
    for sym, close in closes.items():
        line = ema_recurrence(close, 12) - ema_recurrence(close, 26)
        out[sym] = (line, ema_recurrence(line, 9))
    return out


def delta_batch_ok(frame, cycle: int, expected) -> bool:
    """Batch ``cycle`` holds one row per symbol whose running MACD equals
    the one-shot recurrence at bar ``cycle``, bit for bit."""
    if len(frame) != len(expected) or set(frame["symbol"]) != set(expected):
        return False
    line = np.array([expected[s][0][cycle] for s in frame["symbol"]])
    sig = np.array([expected[s][1][cycle] for s in frame["symbol"]])
    return bool(
        (frame["n_rows"] == cycle + 1).all()
        and np.array_equal(frame["macd_line"].to_numpy(), line)
        and np.array_equal(frame["macd_signal"].to_numpy(), sig)
    )


def run_delta(spark, work, seed: int, n_timed: int, workers: int) -> dict:
    from airflow_kafka_spark_spark.streaming.stateful import (
        quotefeed_deltas,
        running_macd,
    )

    marks = [time.perf_counter()]
    warm_in, timed_in = work("in_warm"), work("in_timed")
    gen.write_delta_cycles(warm_in, seed, DELTA_WARMUP_BATCHES, "warmup")
    timed_paths, closes = gen.write_delta_cycles(timed_in, seed, n_timed)
    marks.append(time.perf_counter())

    def stream(src_dir, ck, name):
        sink = DeltaSink()
        query = (
            running_macd(quotefeed_deltas(_reader(spark, DELTA_SOURCE_SCHEMA, src_dir)))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        reports = drain(query)
        rows = sum(len(f) for f in sink.frames.values())
        return Run(str(query.id), reports, sink.ms, rows), sink

    warm, _ = stream(warm_in, work("ck_warm"), "delta_warmup")
    setup_done = time.perf_counter()
    phases = dict(zip(("generate_s", "warmup_s"), np.diff(marks + [setup_done])))
    timed, sink = stream(timed_in, work("ck_timed"), "delta_timed")

    expected = delta_expected(closes)
    failed = sum(
        b not in sink.frames or not delta_batch_ok(sink.frames[b], b, expected)
        for b in range(n_timed)
    )
    return {
        "warm": warm,
        "timed": timed,
        "setup_done": setup_done,
        "setup_phases": {k: float(v) for k, v in phases.items()},
        "attempted": n_timed,
        "failed": failed + max(0, len(sink.frames) - n_timed),
        "messages": gen.DELTA_SYMBOLS * n_timed,
        "probe_input": timed_paths[-1],
    }


WORKLOADS = {"snapshot_stream": run_snapshot, "delta_stream": run_delta}
