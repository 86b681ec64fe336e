"""Pins the generator contract and the metric list.

    python3 -m pytest graftbench/test_gen.py -q -p no:cacheprovider

Runs without Spark.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import gen
import run

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _file_bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def _snapshot_counts(paths):
    """Per cycle: messages, and bars of each symbol's newest message
    (the rows a batch yields after dedup)."""
    counts = []
    for p in paths:
        rows = pq.read_table(p).to_pylist()
        newest = {}
        for r in rows:
            try:
                msg = json.loads(r["value"])
            except json.JSONDecodeError:
                continue
            if r["key"] not in newest or r["timestamp"] > newest[r["key"]][0]:
                newest[r["key"]] = (r["timestamp"], len(msg["historical_data"]))
        counts.append((len(rows), sum(n for _, n in newest.values())))
    return counts


def test_same_seed_writes_identical_files(tmp_path):
    a = gen.write_snapshot_cycles(str(tmp_path / "a"), 7, 3)
    b = gen.write_snapshot_cycles(str(tmp_path / "b"), 7, 3)
    assert _file_bytes(a) == _file_bytes(b)
    (da, ca), (db, cb) = (
        gen.write_delta_cycles(str(tmp_path / d), 7, 3) for d in ("da", "db")
    )
    assert _file_bytes(da) == _file_bytes(db)
    assert all((ca[s] == cb[s]).all() for s in ca)


def test_different_seeds_give_identical_row_counts(tmp_path):
    a = gen.write_snapshot_cycles(str(tmp_path / "a"), 1, 3)
    b = gen.write_snapshot_cycles(str(tmp_path / "b"), 2, 3)
    assert _file_bytes(a) != _file_bytes(b)
    expected = (gen.messages_per_cycle(), gen.snapshot_rows_per_cycle())
    assert _snapshot_counts(a) == _snapshot_counts(b) == [expected] * 3

    (da, _), (db, _) = (
        gen.write_delta_cycles(str(tmp_path / d), s, 3) for d, s in (("da", 1), ("db", 2))
    )
    for c, (pa_, pb) in enumerate(zip(da, db)):
        ta, tb = pq.read_table(pa_), pq.read_table(pb)
        assert ta.num_rows == tb.num_rows == gen.DELTA_SYMBOLS
        bars = [
            {len(json.loads(m)["historical_data"]) for m in t.column("message").to_pylist()}
            for t in (ta, tb)
        ]
        assert bars == [{c + 1}, {c + 1}]


def test_polls_of_one_day_resend_the_same_histories(tmp_path):
    paths = gen.write_snapshot_cycles(str(tmp_path / "s"), 3, 4)

    def newest(path):
        best = {}
        for r in pq.read_table(path).to_pylist():
            if r["value"].endswith(b'"ti'):  # the generator's malformed messages
                continue
            if r["key"] not in best or r["timestamp"] > best[r["key"]][0]:
                best[r["key"]] = (r["timestamp"], r["value"])
        return {k: v for k, (_, v) in best.items()}

    days = [gen.snapshot_day(c) for c in range(4)]
    assert days[0] == days[1] != days[2] == days[3]
    assert newest(paths[0]) == newest(paths[1])
    assert newest(paths[1]) != newest(paths[2])


def test_benchmark_json_names_the_metrics_run_prints():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["snapshot_stream", "delta_stream"]


def test_catalog_tables_are_seeded_and_size_fixed(tmp_path):
    names = [f"{t}.parquet" for t in gen.CATALOG_ROWS]
    a = gen.write_catalog_tables(str(tmp_path / "a"), 7)
    b = gen.write_catalog_tables(str(tmp_path / "b"), 7)
    c = gen.write_catalog_tables(str(tmp_path / "c"), 8)
    assert _file_bytes(os.path.join(a, n) for n in names) == _file_bytes(
        os.path.join(b, n) for n in names
    )
    assert _file_bytes(os.path.join(a, n) for n in names) != _file_bytes(
        os.path.join(c, n) for n in names
    )
    for t, rows in gen.CATALOG_ROWS.items():
        assert pq.read_metadata(os.path.join(a, f"{t}.parquet")).num_rows == rows
        assert pq.read_metadata(os.path.join(c, f"{t}.parquet")).num_rows == rows


def test_delta_warmup_draws_differ_from_timed(tmp_path):
    (warm, _), (timed, _) = (
        gen.write_delta_cycles(str(tmp_path / d), 7, 2, purpose)
        for d, purpose in (("w", "warmup"), ("t", "timed"))
    )
    assert _file_bytes(warm) != _file_bytes(timed)
