"""Seeded, size-fixed input generators for the benchmark workloads.

The seed picks values and placements only: symbol names, prices, which
messages carry a null price or malformed JSON, the order of messages in a
file and the Kafka timestamps. Every count (messages per file, bars per
message, rows after dedup) is a constant of the workload, so two seeds
give identical row counts and only the values differ.

Stream inputs are written as one parquet file per poll cycle, the shape
a ``readStream.parquet`` source with ``maxFilesPerTrigger=1`` turns into
one micro-batch per cycle. The catalog probe's inputs are the ten fixture
tables that ``plans.catalog`` reads, one parquet file each.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import string
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- snapshot_stream: the reference DAG's poll cycle ------------------------
SNAPSHOT_SYMBOLS = 100  # the DAG's symbol cap (fetch_to_kafka_dag.py:55)
# short listings that end inside the MA5 / RSI14 / MA20 / EMA26 warm-ups
SHORT_LENGTHS = (3, 4, 13, 14, 19, 20, 25, 26)
FULL_BARS = 240  # bars in a full history (a ~1 trading-year lookback)
# symbol i is sent RESENDS[i % 2] times per cycle: the newest snapshot plus
# older overlapping ones, as the 30-minute DAG re-sends (FIXTURES §A)
RESENDS = (2, 3)
# daily bars change once a trading day while the DAG polls every 30 minutes,
# so consecutive polls of one day re-send the same histories
POLLS_PER_DAY = 2
NULL_PRICE_SYMBOLS = 5  # current_price is None on a miss (dag:38-40)
MALFORMED_PER_CYCLE = 2  # PERMISSIVE from_json turns these into nulls

# -- delta_stream: the quotefeed poll loop, one new bar per cycle -----------
DELTA_SYMBOLS = 1500

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.binary()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("offset", pa.int64()),
    ]
)
QUOTEFEED_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("current_price", pa.float64()),
        ("message", pa.string()),
    ]
)

_EPOCH = dt.datetime(2024, 1, 2, 9, 0, tzinfo=dt.timezone.utc)
_CYCLE = dt.timedelta(minutes=30)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a draw to one
    purpose never shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def symbol_names(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct 3-4 letter upper-case tickers."""
    letters = np.array(list(string.ascii_uppercase))
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        width = 3 if len(names) % 2 == 0 else 4
        name = "".join(rng.choice(letters, width))
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def trading_days(n: int) -> list[str]:
    """``n`` consecutive weekdays from 2019-01-01 as 'yyyy-MM-dd'."""
    out = []
    day = dt.date(2019, 1, 1)
    while len(out) < n:
        if day.weekday() < 5:
            out.append(day.isoformat())
        day += dt.timedelta(days=1)
    return out


def _bars(rng: np.random.Generator, days: list[str]) -> tuple[list[str], np.ndarray]:
    """A positive OHLCV random walk over ``days`` as pre-rendered JSON bar
    objects (so a message is one string join), plus its close series."""
    n = len(days)
    close = np.round(rng.uniform(10, 200) * np.exp(np.cumsum(rng.normal(0, 0.02, n))), 2)
    close = np.maximum(close, 0.01)
    opn = np.concatenate([[close[0]], close[:-1]])
    high = np.round(np.maximum(opn, close) * (1 + rng.uniform(0, 0.02, n)), 2)
    low = np.maximum(np.round(np.minimum(opn, close) * (1 - rng.uniform(0, 0.02, n)), 2), 0.01)
    volume = rng.integers(0, 500_000, n).astype(np.float64)
    volume[rng.random(n) < 0.01] = 0.0
    frags = [
        json.dumps(
            {"time": t, "open": float(o), "high": float(h), "low": float(lo),
             "close": float(c), "volume": float(v)}
        )
        for t, o, h, lo, c, v in zip(days, opn, high, low, close, volume)
    ]
    return frags, close


def _history_message(symbol: str, price: float | None, frags: list[str]) -> str:
    price_js = "null" if price is None else json.dumps(price)
    return (
        f'{{"symbol": "{symbol}", "current_price": {price_js}, '
        f'"historical_data": [{", ".join(frags)}]}}'
    )


def snapshot_lengths() -> list[int]:
    """Bars per symbol in a snapshot_stream cycle (seed-independent)."""
    n_full = SNAPSHOT_SYMBOLS - len(SHORT_LENGTHS)
    return [FULL_BARS] * n_full + list(SHORT_LENGTHS)


def snapshot_rows_per_cycle() -> int:
    """Processed bars a snapshot_stream batch yields after dedup."""
    return sum(snapshot_lengths())


def messages_per_cycle() -> int:
    return sum(RESENDS[i % 2] for i in range(SNAPSHOT_SYMBOLS)) + MALFORMED_PER_CYCLE


def snapshot_day(cycle: int) -> int:
    """Index of the trading day whose histories poll ``cycle`` sends; two
    polls of one day yield the same processed batch."""
    return (cycle + max(RESENDS) - 1) // POLLS_PER_DAY


def write_snapshot_cycles(
    out_dir: str, seed: int, n_cycles: int, purpose: str = "timed"
) -> list[str]:
    """Write ``n_cycles`` Kafka-shaped ``(key, value, timestamp, offset)``
    parquet files, one per poll cycle. Every symbol's history window ends
    on the trading day of the poll (:func:`snapshot_day`); older resends
    are the snapshots of earlier polls, stamped with their older poll
    time. ``purpose`` separates the draws of a run's warm-up inputs from
    its timed ones."""
    os.makedirs(out_dir, exist_ok=True)
    lengths = snapshot_lengths()
    rng = _rng(seed, f"snapshot/{purpose}")
    symbols = symbol_names(rng, SNAPSHOT_SYMBOLS)
    n_days = snapshot_day(n_cycles - 1) + 1
    days = trading_days(FULL_BARS + n_days)
    series = [_bars(rng, days[: n + n_days])[0] for n in lengths]
    null_price = set(rng.choice(SNAPSHOT_SYMBOLS, NULL_PRICE_SYMBOLS, replace=False).tolist())
    paths = []
    n_msgs = messages_per_cycle()
    for c in range(n_cycles):
        msgs = []  # (key, value, timestamp)
        poll = _EPOCH + c * _CYCLE
        for i, (sym, n) in enumerate(zip(symbols, lengths)):
            for k in range(RESENDS[i % 2]):  # k polls old
                start = snapshot_day(c - k)
                frags = series[i][start : start + n]
                price = None if i in null_price else json.loads(frags[-1])["close"]
                jitter = dt.timedelta(seconds=int(rng.integers(0, 600)))
                msgs.append((sym, _history_message(sym, price, frags), poll - k * _CYCLE + jitter))
        for j in range(MALFORMED_PER_CYCLE):
            sym = symbols[int(rng.integers(SNAPSHOT_SYMBOLS))]
            msgs.append((sym, '{"symbol": "' + sym + '", "historical_data": [{"ti', poll))
        order = rng.permutation(len(msgs))
        rows = [msgs[o] for o in order]
        table = pa.table(
            {
                "key": [r[0] for r in rows],
                "value": [r[1].encode() for r in rows],
                "timestamp": [r[2] for r in rows],
                "offset": np.arange(c * n_msgs, (c + 1) * n_msgs, dtype=np.int64),
            },
            schema=KAFKA_SCHEMA,
        )
        paths.append(_write_cycle(table, out_dir, c, n_cycles))
    return paths


def write_delta_cycles(
    out_dir: str, seed: int, n_cycles: int, purpose: str = "timed"
) -> tuple[list[str], dict[str, np.ndarray]]:
    """Write ``n_cycles`` quotefeed-shaped ``(symbol, current_price,
    message)`` parquet files. Cycle ``c`` carries bars ``0..c`` of every
    symbol, so exactly the last bar is new each cycle (the
    ``quotefeed_deltas`` contract, started at one bar). Returns each
    symbol's close series, the input of the MACD check. ``purpose``
    separates a run's warm-up draws from its timed ones."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, f"delta/{purpose}")
    symbols = symbol_names(rng, DELTA_SYMBOLS)
    days = trading_days(n_cycles)
    series = {s: _bars(rng, days) for s in symbols}
    paths = []
    for c in range(n_cycles):
        order = rng.permutation(DELTA_SYMBOLS)
        rows = [symbols[o] for o in order]
        table = pa.table(
            {
                "symbol": rows,
                "current_price": [float(series[s][1][c]) for s in rows],
                "message": [
                    # the quotefeed source serializes with sort_keys=True
                    f'{{"current_price": {json.dumps(float(series[s][1][c]))}, '
                    f'"historical_data": [{", ".join(series[s][0][: c + 1])}], '
                    f'"symbol": "{s}"}}'
                    for s in rows
                ],
            },
            schema=QUOTEFEED_SCHEMA,
        )
        paths.append(_write_cycle(table, out_dir, c, n_cycles))
    return paths, {s: v[1] for s, v in series.items()}


def message_closes(path: str) -> list[np.ndarray]:
    """The close series of every well-formed message in a cycle file of
    either workload (Kafka ``value`` or quotefeed ``message``)."""
    table = pq.read_table(path)
    column = "value" if "value" in table.column_names else "message"
    out = []
    for value in table.column(column).to_pylist():
        try:
            msg = json.loads(value)
        except json.JSONDecodeError:  # the generator's malformed messages
            continue
        out.append(np.array([b["close"] for b in msg["historical_data"]]))
    return out


def _write_cycle(table: pa.Table, out_dir: str, c: int, n_cycles: int) -> str:
    """Write cycle ``c`` with a modification time one second after cycle
    ``c - 1``: the file source plans new files oldest first, so batch
    ``c`` of a stream reads cycle ``c``."""
    path = os.path.join(out_dir, f"cycle-{c:05d}.parquet")
    pq.write_table(table, path)
    stamp = int(time.time()) - n_cycles + c
    os.utime(path, (stamp, stamp))
    return path


# -- catalog probe: the fixture tables plans.catalog reads -------------------
# row counts of the smallest fixture scale (sf0.001)
CATALOG_ROWS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["cold", "hot", "small", "large", "new", "old", "red", "blue"],
              ["widget", "bolt", "gear", "gizmo", "anvil", "plate", "ring", "rod"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = (
    "a the data row column value key table scan join hash sort merge group "
    "agg filter window stream batch query spark order line part customer "
    "vector fast slow big small"
).split()
DOC_LANGS = ["de", "en", "es", "fr", "zh"]
DOC_SOURCES = 20
DOC_DUPS = 25  # documents that repeat an earlier one plus a trailing word
EMBEDDING_DIM = 64
EMBEDDING_LABELS = 10


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables of ``plans.catalog`` at the fixture's smallest
    scale: its schemas, key ranges, vocabularies and date ranges, with
    values drawn from ``seed``."""
    rng = _rng(seed, "catalog")
    n = CATALOG_ROWS
    keys = {t: np.arange(k, dtype=np.int64) for t, k in n.items()}
    text, step = [], n["documents"] // DOC_DUPS
    for i in range(n["documents"]):
        if i % step == step - 1:
            text.append(text[int(rng.integers(i))] + " dup")
        else:
            text.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    labels = rng.integers(0, EMBEDDING_LABELS, n["embeddings"])
    centers = rng.normal(0, 1, (EMBEDDING_LABELS, EMBEDDING_DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n["embeddings"], EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    gaps = rng.exponential(2600.0, n["events"])
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return {
        "region": pa.table({
            "r_regionkey": keys["region"].astype(np.int32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": keys["nation"].astype(np.int32),
            "n_name": [f"NATION_{i}" for i in keys["nation"]],
            "n_regionkey": (keys["nation"] % len(REGIONS)).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": keys["customer"],
            "c_name": [f"Customer#{i:09d}" for i in keys["customer"]],
            "c_nationkey": rng.integers(0, n["nation"], n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": keys["supplier"],
            "s_name": [f"Supplier#{i:09d}" for i in keys["supplier"]],
            "s_nationkey": rng.integers(0, n["nation"], n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": keys["part"],
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_WORDS[0], n["part"]), rng.choice(PART_WORDS[1], n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": _money(rng, 900.0, 920.0, n["part"])}),
        "orders": pa.table({
            "o_orderkey": keys["orders"],
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"])}),
        "events": pa.table({
            "event_id": keys["events"],
            "ts": ts,
            "user_id": rng.integers(0, 15, n["events"]),
            "event_type": rng.choice(EVENT_TYPES, n["events"]),
            "value": np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]}),
        "documents": pa.table({
            "doc_id": keys["documents"],
            "text": text,
            "lang": rng.choice(DOC_LANGS, n["documents"]),
            "source": [f"src{i % DOC_SOURCES}" for i in keys["documents"]],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)}),
        "embeddings": pa.table({
            "vec_id": keys["embeddings"],
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32)}),
    }


def write_catalog_tables(out_dir: str, seed: int) -> str:
    """Write :func:`catalog_tables` as ``<out_dir>/<table>.parquet``; the
    directory is the ``sf_dir`` the catalog queries take."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
