"""Seeded input generator for the benchmark workloads.

Every workload's tables are built from one fixed structure seed, so the
data shape (row counts, event mix, graph topology) is the same for every
run.  The run's ``--seed`` then relabels the ids (events, users, orders,
parts) with a seeded permutation plus offset: the same seed gives
byte-identical files, another seed gives the same row counts with
different ids.

Tables follow the schemas the engine's queries read (its synthetic
``events``/``nation``/``lineitem`` test tables, and the mover's raw nested
events).  Each is written as a directory of ``n_files`` parquet
files, so that a scan plans at least one task per core.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240101

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: event type -> raw staging event class (the mover's partition key)
RAW_CLASS = {
    "click": "message",
    "view": "message",
    "error": "message",
    "purchase": "reaction",
    "signup": "subscription",
}

#: The per-key densities follow the sf0.1 test tables (there: 66 events per
#: user, five equally common event types over 30 days, 4 lines per order
#: and 30 lines per part; here 50-60, the same, 4 and 32); the row counts
#: are smaller than sf0.1 (100,000 events, 600,000 lines) so that a run,
#: with its session start and two warm passes, stays near a minute.
SIZES = {
    "datamart_refresh": {"events": 24_000, "users": 400},
    "graph_rounds": {"events": 12_000, "users": 240, "orders": 8_000, "parts": 1_000},
}

EPOCH = dt.datetime(2024, 1, 1)
DAYS = 30


def _relabel(ids: np.ndarray, n: int, seed: int, salt: int) -> np.ndarray:
    """Seeded bijection of ``[0, n)`` onto ``offset + [0, n)``."""
    rng = np.random.default_rng([seed, salt])
    perm = rng.permutation(n).astype(np.int64)
    offset = int(rng.integers(1, 1000)) * 1_000_000
    return perm[ids] + offset


def _events(rng: np.random.Generator, n: int, users: int) -> dict[str, np.ndarray]:
    gaps = rng.exponential(1.0, n)
    ts_us = (np.cumsum(gaps) / gaps.sum() * (DAYS * 86_400e6 - 1e6)).astype(np.int64)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": ts_us,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _events_table(ev: dict[str, np.ndarray], seed: int, users: int) -> pa.Table:
    n = len(ev["event_id"])
    epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.table(
        {
            "event_id": _relabel(ev["event_id"], n, seed, 1),
            "ts": pa.array(epoch_us + ev["ts_us"], pa.timestamp("us")),
            "user_id": _relabel(ev["user_id"], users, seed, 2),
            "event_type": ev["event_type"],
            "value": ev["value"],
            "props": [f'{{"k": {k}}}' for k in ev["k"]],
        }
    )


def _raw_events_table(
    rng: np.random.Generator, ev: dict[str, np.ndarray], events: pa.Table
) -> pa.Table:
    """The same events in the mover's raw nested shape, typed by the
    engine's own ``sources.events.RAW_SCHEMA``."""
    from spark_hadoop_automation_in_cloud_spark.sources.events import RAW_SCHEMA

    n = events.num_rows
    cls = np.array([RAW_CLASS[t] for t in ev["event_type"]])
    is_msg, is_rea, is_sub = cls == "message", cls == "reaction", cls == "subscription"
    user = events.column("user_id").to_numpy()
    eid = events.column("event_id").to_numpy()
    stamps = [
        (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S")
        for us in ev["ts_us"]
    ]
    frac = rng.integers(0, 1_000_000, n)
    msg_ts = [f"{s}.{f:06d}" for s, f in zip(stamps, frac)]
    channel = rng.integers(0, 50, n).astype(np.int64)
    peer = user[rng.integers(0, n, n)]

    long_ = pa.int64()
    # the fields each event class fills; the rest stay null
    fill = {
        "channel_id": _col(channel, is_sub, long_),
        "datetime": pa.array(stamps, pa.string()),
        "message": _col(np.array([f"message {i}" for i in range(n)]), is_msg, pa.string()),
        "message_from": _col(user, is_msg, long_),
        "message_id": _col(eid, is_msg, long_),
        "message_to": _col(peer, is_msg, long_),
        "message_ts": _col(np.array(msg_ts), is_msg, pa.string()),
        "reaction_from": _col(user, is_rea, long_),
        "reaction_type": _col(np.where(ev["value"] > 50, "like", "dislike"), is_rea, pa.string()),
        "subscription_channel": _col(channel, is_sub, long_),
        "subscription_user": _col(user, is_sub, long_),
        "user": _col(user, is_sub, long_),
    }
    schema = _arrow_type(RAW_SCHEMA)
    event_type = schema.field("event").type
    event = pa.StructArray.from_arrays(
        [fill.get(f.name, pa.nulls(n, f.type)) for f in event_type],
        fields=list(event_type),
    )
    columns = {
        "event": event,
        "event_type": cls,
        "lat": np.round(rng.uniform(-45.0, -10.0, n), 6),
        "lon": np.round(rng.uniform(110.0, 155.0, n), 6),
    }
    return pa.table([columns[f.name] for f in schema], schema=pa.schema(list(schema)))


def _col(values, mask: np.ndarray, typ: pa.DataType) -> pa.Array:
    """``values`` where ``mask`` holds, null elsewhere."""
    return pa.array(values, typ, mask=~mask)


def _arrow_type(t) -> pa.DataType:
    """The arrow type of a Spark SQL type (the ones ``RAW_SCHEMA`` uses)."""
    from pyspark.sql import types as T

    if isinstance(t, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType)) for f in t.fields])
    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    simple = {T.StringType: pa.string(), T.LongType: pa.int64(), T.DoubleType: pa.float64()}
    return simple[type(t)]


def _nation_table() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": (keys % 5).astype(np.int32),
        }
    )


def _lineitem_table(rng: np.random.Generator, orders: int, parts: int, seed: int) -> pa.Table:
    basket = rng.integers(1, 8, orders)
    ok = np.repeat(np.arange(orders, dtype=np.int64), basket)
    n = len(ok)
    pk = rng.integers(0, parts, n).astype(np.int64)
    line = np.concatenate([np.arange(1, b + 1) for b in basket]).astype(np.int32)
    return pa.table(
        {
            "l_orderkey": _relabel(ok, orders, seed, 3),
            "l_partkey": _relabel(pk, parts, seed, 4),
            "l_linenumber": line,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        }
    )


def tables(workload: str, seed: int) -> dict[str, pa.Table]:
    """The workload's input tables for ``seed`` (in memory)."""
    size = SIZES[workload]
    rng = np.random.default_rng(STRUCTURE_SEED)
    if workload == "datamart_refresh":
        ev = _events(rng, size["events"], size["users"])
        events = _events_table(ev, seed, size["users"])
        return {
            "events": events,
            "nation": _nation_table(),
            "raw_events": _raw_events_table(rng, ev, events),
        }
    if workload == "graph_rounds":
        ev = _events(rng, size["events"], size["users"])
        return {
            "events": _events_table(ev, seed, size["users"]),
            "lineitem": _lineitem_table(rng, size["orders"], size["parts"], seed),
        }
    raise ValueError(f"unknown workload {workload!r}")


def write(workload: str, seed: int, out_dir: str, n_files: int) -> dict[str, int]:
    """Write each table as ``{out_dir}/{name}.parquet/part-NNNNN.parquet``
    (``n_files`` files of contiguous rows); return row counts per table."""
    rows = {}
    for name, table in tables(workload, seed).items():
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(tdir, f"part-{i:05d}.parquet"))
        rows[name] = table.num_rows
    return rows


def digest(out_dir: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out_dir):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(root, f)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
