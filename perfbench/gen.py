"""Seeded input generator for the benchmark workloads.

Every table uses the inventory schema of the query that reads it, and the
same seed always gives byte-identical parquet. The generator uses numpy and
pyarrow only, so the library sees nothing but the files written here.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00 UTC
DAY_US = 86_400 * 1_000_000


def _zipf_ids(rng, n, universe, s=1.1):
    """n draws of ids in [0, universe), Zipf-skewed with exponent s; the hot
    ids are scattered over the range by a seeded permutation."""
    w = 1.0 / np.arange(1, universe + 1) ** s
    cdf = np.cumsum(w) / w.sum()
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), universe - 1)
    return rng.permutation(universe)[ranks].astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _events(rng, user_id, span_days, integral=False):
    """events table; ts strictly increases with event_id, at least one
    millisecond apart (the engine's event-time unit), so "latest per key"
    never ties."""
    n = len(user_id)
    gaps_ms = rng.integers(1, 2 * span_days * DAY_US // 1000 // n, size=n)
    ts = EPOCH_2024_US + np.cumsum(gaps_ms) * 1000
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(user_id),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        # integral values for the serving check, whose sums must be exact;
        # otherwise full precision: with cent values, a window of 8 rows
        # averages to an exact tie at the oracles' ROUND(x, 4), which Spark
        # and DuckDB may break differently from their double sums
        "value": pa.array(rng.integers(0, 20000, size=n).astype(np.float64) if integral
                          else rng.random(n) * 200.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _orders(rng, n, custkey, t_lo, t_hi):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(custkey),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=n)]),
        "o_totalprice": pa.array(np.round(rng.random(n) * 400000.0 + 1000.0, 2)),
        # whole seconds inside the event span, so point-in-time lookups hit
        "o_orderdate": _ts(rng.integers(t_lo // 1_000_000, t_hi // 1_000_000, size=n)
                           * 1_000_000),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, size=n)]),
    })


def offline_tables(rng):
    n_users, n_orders = 100_000, 20_000
    ev = _events(rng, _zipf_ids(rng, 30_000, n_users), span_days=30)
    ts = ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    return {
        "events": ev,
        "orders": _orders(rng, n_orders, _zipf_ids(rng, n_orders, n_users), int(ts[0]), int(ts[-1])),
    }


def serving_tables(rng, n_users=100_000, extra=100_000):
    """One event per user (so every user id in [0, n_users) is a stored key)
    plus Zipf-skewed extra events, in shuffled user order."""
    users = np.concatenate([np.arange(n_users, dtype=np.int64), _zipf_ids(rng, extra, n_users)])
    return {"events": _events(rng, rng.permutation(users), span_days=30, integral=True)}


TABLES = {
    "offline_features": offline_tables,
    "online_serving": serving_tables,
}


def generate(workload, seed, out_dir):
    """Write the workload's tables as <out_dir>/<table>.parquet; returns
    {table: rows} and a content hash over every table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    counts = {}
    tables = TABLES[workload](rng)
    for name, table in sorted(tables.items()):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
        for col in table.column_names:
            for buf in table.column(col).combine_chunks().buffers():
                if buf is not None:
                    h.update(buf)
    if workload == "online_serving":
        write_latest_values(tables["events"], os.path.join(out_dir, "expected_value.txt"))
    return counts, h.hexdigest()[:16]


HOUR_MS = 3_600_000


def write_latest_values(events, path):
    """The serving check's reference: line u holds user u's `value_1h`
    at its latest event, the sum of the user's values over the hour up to
    and including that event (the over-window RANGE frame)."""
    user = events.column("user_id").to_numpy()
    t_ms = events.column("ts").to_numpy().astype("datetime64[ms]").astype(np.int64)
    value = events.column("value").to_numpy()
    order = np.lexsort((t_ms, user))
    user, t_ms, value = user[order], t_ms[order], value[order]
    csum = np.concatenate([[0.0], np.cumsum(value)])
    last = np.flatnonzero(np.r_[user[1:] != user[:-1], True])  # latest row per user
    key = user * (1 << 42) + t_ms
    first = np.searchsorted(key, key[last] - HOUR_MS, side="left")
    sums = csum[last + 1] - csum[first]
    out = np.full(user.max() + 1, np.nan)
    out[user[last]] = sums
    with open(path, "w") as f:
        f.write("\n".join(repr(float(v)) for v in out))
        f.write("\n")
