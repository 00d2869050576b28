"""Seeded input generators for the pipeline runs.

Every generator is a pure function of ``(seed, index)``: the same seed
gives byte-identical parquet files, which ``digest`` proves. The
pipeline runs only ever see the files these functions write; query-mix
reads the repository's fixture tables instead.

- ``write_tick``: one deepflow tick — flow events in
  ``streaming.pipeline.EVENTS_SCHEMA`` with zipf-skewed users, five
  protocols and ``ts`` inside the tick's 5-minute slot.
- ``AwsSnapshots``: a sequence of resource snapshots (region, nation,
  customer, supplier, orders) with seeded churn between them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_ROWS = 8_000
TICK_SECONDS = 300
PROTOCOLS = ("http", "grpc", "mysql", "redis", "kafka")
TICK_EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal values in [lo, hi] (the fixture's money shape)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- deepflow


def write_tick(seed: int, tick: int, path: str) -> int:
    """Write tick ``tick``'s flow events to ``path``; returns file bytes.

    Users are zipf-skewed (a few hot services carry most calls), values
    are exponential latencies with a tail past the error threshold, and
    every ``ts`` falls inside ``[TICK_EPOCH + 5 min * tick, +5 min)``."""
    rng = _rng(seed, 1, tick)
    n = TICK_ROWS
    users = (rng.zipf(1.3, n) - 1) % 1500
    start_us = int(TICK_EPOCH.timestamp() * 1e6) + tick * TICK_SECONDS * 1_000_000
    ts = np.sort(start_us + rng.integers(0, TICK_SECONDS * 1_000_000, n))
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    table = pa.table(
        {
            "event_id": pa.array(tick * n + np.arange(n), pa.int64()),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(np.array(PROTOCOLS)[rng.integers(0, 5, n)]),
            "value": pa.array(value, pa.float64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "props": pa.array([f'{{"k": {x}}}' for x in k]),
        }
    )
    return _write(table, path)


# --------------------------------------------------------------------- aws


class AwsSnapshots:
    """Resource snapshots with seeded churn between consecutive ones.

    Snapshot 0 has ``customers`` resources and ``suppliers`` services.
    Each later snapshot removes ~2% of resources (ghosts the pipeline's
    GC must drop), adds ~2% new ones, moves ~3% to another market
    segment, re-keys ~2% (which flips their derived tier), adds a few
    services, and draws a fresh order book, so the metrics join-update
    and the urgent-open-order alarms change on every run."""

    def __init__(self, seed: int, customers: int = 4_000, suppliers: int = 250, orders: int = 40_000):
        self.seed = seed
        self.orders = orders
        rng = _rng(seed, 2, 0)
        self._next_key = customers
        self._next_supp = suppliers
        self.cust = {
            "c_custkey": np.arange(customers, dtype=np.int64),
            "c_name": np.array([f"Customer#{i:09d}" for i in range(customers)], dtype=object),
            "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, customers),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, customers)],
        }
        self.supp = {
            "s_suppkey": np.arange(suppliers, dtype=np.int64),
            "s_name": np.array([f"Supplier#{i:09d}" for i in range(suppliers)], dtype=object),
            "s_nationkey": rng.integers(0, 25, suppliers).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, suppliers),
        }
        self.index = 0

    def _churn(self) -> None:
        rng = _rng(self.seed, 2, self.index)
        c = self.cust
        n = len(c["c_custkey"])
        keep = rng.random(n) >= 0.02
        c = {k: v[keep] for k, v in c.items()}
        n = len(c["c_custkey"])
        seg = rng.random(n) < 0.03
        c["c_mktsegment"] = c["c_mktsegment"].copy()
        c["c_mktsegment"][seg] = np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, int(seg.sum()))]
        rekey = np.flatnonzero(rng.random(n) < 0.02)
        c["c_custkey"] = c["c_custkey"].copy()
        c["c_custkey"][rekey] = self._next_key + np.arange(len(rekey))
        self._next_key += len(rekey)
        add = int(n * 0.02)
        new_keys = self._next_key + np.arange(add, dtype=np.int64)
        self._next_key += add
        new = {
            "c_custkey": new_keys,
            "c_name": np.array([f"Customer#{i:09d}" for i in new_keys], dtype=object),
            "c_nationkey": rng.integers(0, 25, add).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, add),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, add)],
        }
        self.cust = {k: np.concatenate([c[k], new[k]]) for k in c}
        s_add = int(rng.integers(0, 4))
        s_keys = self._next_supp + np.arange(s_add, dtype=np.int64)
        self._next_supp += s_add
        s_new = {
            "s_suppkey": s_keys,
            "s_name": np.array([f"Supplier#{i:09d}" for i in s_keys], dtype=object),
            "s_nationkey": rng.integers(0, 25, s_add).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, s_add),
        }
        self.supp = {k: np.concatenate([self.supp[k], s_new[k]]) for k in self.supp}

    def write_next(self, out_dir: str) -> int:
        """Write the next snapshot under ``out_dir``; returns input bytes."""
        if self.index:
            self._churn()
        rng = _rng(self.seed, 3, self.index)
        self.index += 1
        m = self.orders
        keys = self.cust["c_custkey"]
        days = rng.integers(0, 2405, m)
        orders = pa.table(
            {
                "o_orderkey": pa.array(np.arange(m), pa.int64()),
                "o_custkey": pa.array(keys[rng.integers(0, len(keys), m)], pa.int64()),
                "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, m)]),
                "o_totalprice": pa.array(_cents(rng, 1000, 500000, m), pa.float64()),
                "o_orderdate": pa.array(
                    np.datetime64("1995-01-01") + days.astype("timedelta64[D]"),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, m)]),
            }
        )
        tables = {
            "region": _region(),
            "nation": _nation(),
            "customer": _table(self.cust, {"c_nationkey": pa.int32()}),
            "supplier": _table(self.supp, {"s_nationkey": pa.int32()}),
            "orders": orders,
        }
        return sum(_write(t, os.path.join(out_dir, f"{n}.parquet")) for n, t in tables.items())


def _table(cols: dict, types: dict) -> pa.Table:
    return pa.table({k: pa.array(v, types.get(k)) for k, v in cols.items()})


def _region() -> pa.Table:
    return pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )


def _nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
