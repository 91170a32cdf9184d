"""Independent numpy reference for every workload, computed from the
generated parquet files.

Window rules (tsflex strided rolling): per key, ``start``/``end`` are the
first and last timestamps; a stride ``s`` gives ``nb = max((end - start -
w) // s + 1, 0)`` windows starting at ``start + k*s``; several strides
take the union of their starts; a window is the half-open ``[t, t + w)``
and is indexed by its end ``t + w``. Configs are outer-joined on
``(key, ts)``.

Exactness: values are integer hundredths, so sums, sums of squares, mean
and population variance are derived from exact integer sums; only the
final division rounds. The engine works in doubles, so results are
compared with a relative tolerance.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.workloads import HR_HI, HR_LO, polyfit_slope, smooth5

SEC = 1_000_000
RTOL = 1e-9
ATOL = 1e-9


def _hundredths(values: np.ndarray) -> np.ndarray:
    return np.rint(values * 100).astype(np.int64)


def _window_edges(ts: np.ndarray, window: int, strides: List[int]):
    """Window starts and the row ranges ``[lo, hi)`` they cover."""
    start, end = int(ts[0]), int(ts[-1])
    starts = set()
    for s in strides:
        nb = max((end - start - window) // s + 1, 0)
        starts.update(start + s * np.arange(nb, dtype=np.int64))
    st = np.array(sorted(starts), dtype=np.int64)
    return st, np.searchsorted(ts, st, "left"), np.searchsorted(ts, st + window, "left")


def _reduce(ufunc, values: np.ndarray, lo: np.ndarray, hi: np.ndarray, empty) -> np.ndarray:
    """``ufunc`` over every slice ``values[lo:hi]`` (slices may overlap)."""
    padded = np.append(values, values[:1])  # reduceat needs index < len
    idx = np.empty(2 * len(lo), dtype=np.int64)
    idx[0::2], idx[1::2] = lo, hi
    out = ufunc.reduceat(padded, idx)[0::2].astype(np.float64)
    out[hi <= lo] = empty
    return out


def _exact_stats(ints: np.ndarray, lo: np.ndarray, hi: np.ndarray, scale: int) -> Dict[str, np.ndarray]:
    """sum/mean/var/std/min/max of ``ints / scale`` over each slice, from
    exact integer prefix sums."""
    c1 = np.concatenate([[0], np.cumsum(ints)]).astype(object)
    c2 = np.concatenate([[0], np.cumsum(ints.astype(object) ** 2)])
    n = (hi - lo).astype(object)
    s1, s2 = c1[hi] - c1[lo], c2[hi] - c2[lo]
    out = {"sum": np.array([float(x) / scale for x in s1])}
    mean, var = [], []
    for k, sa, sb in zip(n, s1, s2):
        if k == 0:
            mean.append(np.nan)
            var.append(np.nan)
        else:
            mean.append(sa / (k * scale))
            var.append((k * sb - sa * sa) / (k * k * scale * scale))
    out["mean"] = np.array(mean, dtype=np.float64)
    out["var"] = np.array(var, dtype=np.float64)
    out["std"] = np.sqrt(out["var"])
    out["min"] = _reduce(np.minimum, ints, lo, hi, np.nan) / scale
    out["max"] = _reduce(np.maximum, ints, lo, hi, np.nan) / scale
    return out


def _features(
    groups: Dict[object, pd.DataFrame],
    configs: List[tuple],
    per_window: Callable,
    key_col: Optional[str],
) -> pd.DataFrame:
    """Outer join of every config's per-key window features."""
    frames = []
    for label, window, strides in configs:
        parts = []
        for key, g in groups.items():
            ts = g["ts"].to_numpy()
            st, lo, hi = _window_edges(ts, window, strides)
            cols = {f"{name}__w={label}": v for name, v in per_window(g, lo, hi).items()}
            part = pd.DataFrame(cols)
            part["ts"] = st + window
            if key_col:
                part[key_col] = key
            parts.append(part)
        idx = [key_col, "ts"] if key_col else ["ts"]
        frames.append(pd.concat(parts).set_index(idx))
    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, how="outer")
    return out.sort_index()


def _groups(table: pd.DataFrame, key_col: Optional[str]) -> Dict[object, pd.DataFrame]:
    table = table.assign(ts=table["ts"].to_numpy().astype("datetime64[us]").astype(np.int64))
    if key_col is None:
        return {None: table.sort_values("ts").reset_index(drop=True)}
    return {k: g.sort_values("ts").reset_index(drop=True) for k, g in table.groupby(key_col)}


GRID_CONFIGS = [
    ("10s", 10 * SEC, [5 * SEC, 15 * SEC]),
    ("2m", 120 * SEC, [5 * SEC, 15 * SEC]),
]


def grid_native(path: str) -> Dict[str, pd.DataFrame]:
    def per_window(g, lo, hi):
        out = {}
        for axis in inputs.AXES:
            stats = _exact_stats(_hundredths(g[axis].to_numpy()), lo, hi, 100)
            stats["sum"][hi <= lo] = 0.0  # the native sum fills empty windows with 0
            for fn in ["sum", "min", "max", "mean", "std", "var"]:
                out[f"{axis}__{fn}"] = stats[fn]
        return out

    groups = _groups(pq.read_table(path).to_pandas(), "subject")
    return {"features": _features(groups, GRID_CONFIGS, per_window, "subject")}


def sparse_pipeline(path: str) -> Dict[str, pd.DataFrame]:
    groups = _groups(pq.read_table(path).to_pandas(), "device")

    def per_window(g, lo, hi):
        hr = np.clip(_hundredths(g["hr"].to_numpy()), round(HR_LO * 100), round(HR_HI * 100))
        # 5 x the smoothed value, in exact hundredths
        padded = np.pad(hr, 2, mode="edge")
        stats = _exact_stats(sum(padded[i : i + len(hr)] for i in range(5)), lo, hi, 500)
        out = {f"hr_smooth__{fn}": stats[fn] for fn in ["mean", "std", "min", "max"]}
        # the Arrow tier sees the engine's doubles: smooth them the same way
        smooth = smooth5(np.clip(g["hr"].to_numpy(), HR_LO, HR_HI))
        out["hr_smooth__slope"] = np.array([polyfit_slope(smooth[a:b]) for a, b in zip(lo, hi)])
        return out

    feats = _features(groups, [("5m", 300 * SEC, [60 * SEC])], per_window, "device")

    rows = []
    for key, g in groups.items():
        ts = g["ts"].to_numpy()
        cut = np.flatnonzero(np.diff(ts) > 5 * SEC) + 1
        lo = np.concatenate([[0], cut])
        hi = np.concatenate([cut, [len(ts)]])
        for cid, (a, b) in enumerate(zip(lo, hi)):
            rows.append((key, cid, ts[a], ts[b - 1], b - a))
    chunks = pd.DataFrame(rows, columns=["device", "chunk_id", "chunk_start", "chunk_end", "n_samples"])
    return {"features": feats, "chunks": chunks.set_index(["device", "chunk_id"]).sort_index()}


EXPECTED = {"grid_native": grid_native, "sparse_pipeline": sparse_pipeline}


def _as_micros(col: pd.Series) -> np.ndarray:
    return col.to_numpy().astype("datetime64[us]").astype(np.int64)


def compare(expected: pd.DataFrame, actual: pd.DataFrame) -> List[str]:
    """Mismatches between the reference and an engine result (empty when
    they agree). ``actual`` is the engine output as a plain pandas frame."""
    actual = actual.copy()
    for c in ("ts", "chunk_start", "chunk_end"):
        if c in actual.columns:
            actual[c] = _as_micros(actual[c])
    actual = actual.set_index(list(expected.index.names)).sort_index()
    problems = []
    if sorted(actual.columns) != sorted(expected.columns):
        return [f"columns differ: {sorted(set(actual.columns) ^ set(expected.columns))}"]
    if not actual.index.equals(expected.index):
        return [f"index differs: {len(actual)} rows vs {len(expected)} expected"]
    for c in expected.columns:
        a = actual[c].to_numpy(dtype=np.float64)
        e = expected[c].to_numpy(dtype=np.float64)
        bad = ~np.isclose(a, e, rtol=RTOL, atol=ATOL, equal_nan=True)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            problems.append(f"{c}: {int(bad.sum())} values differ, first at row {i}: {a[i]!r} vs {e[i]!r}")
    return problems
