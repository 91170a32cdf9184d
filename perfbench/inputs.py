"""Seeded synthetic inputs, written as parquet files.

Every value column holds 2-decimal numbers (integer hundredths stored as
doubles), so the reference side can recover the exact integers and sum them
without rounding. Timestamps are integer microseconds (UTC).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
AXES = ["acc_x", "acc_y", "acc_z"]


def _walk(rng: np.random.Generator, n: int, lo: int, hi: int, step: int) -> np.ndarray:
    """Bounded random walk of integer hundredths in ``[lo, hi]``."""
    w = rng.integers(lo, hi + 1) + np.cumsum(rng.integers(-step, step + 1, n))
    span = hi - lo
    # reflect into [lo, hi] so the walk never drifts out of range
    w = np.abs((w - lo) % (2 * span) - span)
    return (hi - w).astype(np.int64)


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def write_wearable(path: str, rng: np.random.Generator, keys: list, seconds: int, hz: int) -> int:
    """Regular ``hz`` samples of three accelerometer axes per key.

    Each key starts at its own whole-sample offset within the first minute,
    so per-key bounds differ. With ``keys == [None]`` no key column is
    written (one unkeyed series). Returns the row count.
    """
    step_us = 1_000_000 // hz
    n = seconds * hz
    ts, key_col, vals = [], [], {a: [] for a in AXES}
    for k in keys:
        start = T0_US + int(rng.integers(0, 60 * hz)) * step_us
        ts.append(start + np.arange(n, dtype=np.int64) * step_us)
        key_col.append(np.full(n, k, dtype=object))
        for a in AXES:
            vals[a].append(_walk(rng, n, -2000, 2000, 40))
    cols = {"ts": _ts_array(np.concatenate(ts))}
    if keys != [None]:
        cols["subject"] = pa.array(np.concatenate(key_col), type=pa.string())
    for a in AXES:
        cols[a] = pa.array(np.concatenate(vals[a]) / 100.0)
    pq.write_table(pa.table(cols), path)
    return n * len(keys)


def write_sparse(path: str, rng: np.random.Generator, devices: int, samples: int, gaps: int) -> int:
    """``samples`` readings per device at ~1 Hz (±0.2 s jitter) with
    ``gaps`` random 1–10 min holes. Returns the row count."""
    ts, dev, vals = [], [], []
    for d in range(devices):
        dt = 1_000_000 + rng.integers(-200_000, 200_001, samples - 1)
        holes = rng.choice(samples - 1, size=gaps, replace=False)
        dt[holes] = rng.integers(60_000_000, 600_000_001, gaps)
        start = T0_US + int(rng.integers(0, 60_000_000))
        ts.append(start + np.concatenate([[0], np.cumsum(dt)]))
        dev.append(np.full(samples, f"d{d:03d}", dtype=object))
        vals.append(_walk(rng, samples, 3000, 20000, 150))
    table = pa.table(
        {
            "ts": _ts_array(np.concatenate(ts)),
            "device": pa.array(np.concatenate(dev), type=pa.string()),
            "hr": pa.array(np.concatenate(vals) / 100.0),
        }
    )
    pq.write_table(table, path)
    return samples * devices
