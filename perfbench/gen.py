"""Seeded, sensor-shaped input generator (numpy + pyarrow only).

Every table keeps the schema of the package's star-schema tables so
that ``sources.readers.read_table`` and the registry's DuckDB oracles
read it unchanged:

- ``events``   one gas reading: ``user_id`` is the terminal,
  ``event_type`` the gas channel, ``value`` the reading;
- ``customer`` the terminal dimension (``c_custkey`` = terminal id,
  ``c_nationkey`` = site);
- ``nation``   the 25-row site dimension.

The five gas channels reuse the pivot labels the ETL plan expects
(``click view purchase signup error`` stand for CO, LEL, H2S, O2 and
CO2). The generator deliberately does not use the package's own
``sources.sensor_sim``: that module is part of the program under test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GASES = ("click", "view", "purchase", "signup", "error")
# per-channel baseline and noise scale (ppm-like units, two decimals)
_BASE = np.array([5.0, 2.0, 1.0, 20.9, 40.0])
_NOISE = np.array([2.0, 0.8, 0.5, 0.4, 8.0])
_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
_DAY_US = 86_400_000_000
_SLOT_US = 1_800_000_000  # 30 minutes
_HOUR_US = 3_600_000_000
N_NATIONS = 25
_ZIPF_S = 1.1  # exponent of the zipf terminal skew


@dataclass(frozen=True)
class FeedSpec:
    """Shape of one generated raw feed."""

    rows: int
    terminals: int
    days: int = 30
    skew: str = "uniform"  # "uniform" | "zipf"
    files: int = 1  # > 1: also write the feed as ordered drop files
    disorder_frac: float = 0.0  # rows shifted back < 10 min (kept)
    late_frac: float = 0.0  # rows shifted back behind the watermark (dropped)


@dataclass(frozen=True)
class GridSpec:
    """Many short series: one reading per terminal x gas x 30-min slot."""

    terminals: int
    days: int


def _terminal_ids(rng: np.random.Generator, spec: FeedSpec) -> np.ndarray:
    if spec.skew == "uniform":
        return rng.integers(0, spec.terminals, spec.rows)
    if spec.skew != "zipf":
        raise ValueError(f"unknown skew {spec.skew!r}")
    ranks = np.arange(1, spec.terminals + 1, dtype="float64")
    p = ranks ** -_ZIPF_S
    p /= p.sum()
    # the hot head lands on random terminal ids, not on id 0
    perm = rng.permutation(spec.terminals)
    return perm[rng.choice(spec.terminals, spec.rows, p=p)]


def _readings(rng: np.random.Generator, gas: np.ndarray, ts_us: np.ndarray) -> np.ndarray:
    hour = (ts_us // _HOUR_US) % 24
    daily = np.sin(2 * np.pi * hour / 24.0)
    v = _BASE[gas] * (1 + 0.15 * daily) + rng.normal(0, 1, len(gas)) * _NOISE[gas]
    return np.round(np.clip(v, 0.01, None), 2)


def _events_table(event_id, ts_us, terminal, gas, value, rng) -> pa.Table:
    props = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, len(ts_us))])
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(terminal, pa.int64()),
            "event_type": pa.array(np.array(GASES, dtype=object)[gas]),
            "value": pa.array(value, pa.float64()),
            "props": props,
        }
    )


def _dims(rng: np.random.Generator, terminals: int) -> dict[str, pa.Table]:
    segs = np.array(["FIXED", "PORTABLE", "AREA", "PERSONAL", "DUCT"], dtype=object)
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(terminals), pa.int64()),
            "c_name": pa.array([f"Terminal#{i:09d}" for i in range(terminals)]),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, terminals), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(0, 5000, terminals), 2)),
            "c_mktsegment": pa.array(segs[rng.integers(0, len(segs), terminals)]),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
            "n_name": pa.array([f"SITE_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
        }
    )
    return {"customer": customer, "nation": nation}


def make_feed(spec: FeedSpec, seed: int) -> tuple[dict[str, pa.Table], list[pa.Table], np.ndarray]:
    """Raw feed + dims; with ``spec.files > 1`` also the drop files.

    Returns (tables, drop_files, late_event_ids). ``tables['events']`` is the
    whole feed in event-time order; drop file ``k`` holds the k-th time
    slice plus its disordered and late rows.
    """
    rng = np.random.default_rng(seed)
    n = spec.rows
    ts = np.sort(rng.integers(_START_US, _START_US + spec.days * _DAY_US, n))
    terminal = _terminal_ids(rng, spec)
    gas = rng.integers(0, len(GASES), n)
    value = _readings(rng, gas, ts)
    file_of = np.minimum((ts - _START_US) * spec.files // (spec.days * _DAY_US), spec.files - 1)
    late = np.zeros(n, dtype=bool)
    if spec.files > 1:
        slice_us = spec.days * _DAY_US // spec.files
        if spec.disorder_frac:
            pick = rng.random(n) < spec.disorder_frac
            ts[pick] -= rng.integers(1, 600_000_000, int(pick.sum()))
        if spec.late_frac:
            # a stateful operator drops rows behind the watermark of the
            # previous batch, so a late row in file k lies 2-6 h before
            # the start of file k-1 (whose end time set that watermark)
            late = (rng.random(n) < spec.late_frac) & (file_of >= 3)
            start_prev = _START_US + (file_of[late] - 1) * slice_us
            ts[late] = start_prev - 2 * _HOUR_US - rng.integers(0, 4 * _HOUR_US, int(late.sum()))
        ts = np.maximum(ts, _START_US)
    events = _events_table(np.arange(n), ts, terminal, gas, value, rng)
    tables = {"events": events, **_dims(rng, spec.terminals)}
    drops = [events.filter(pa.array(file_of == k)) for k in range(spec.files)] if spec.files > 1 else []
    return tables, drops, np.flatnonzero(late)


def make_grid(spec: GridSpec, seed: int) -> dict[str, pa.Table]:
    """One reading per (terminal, gas, 30-min slot), jittered inside the
    slot, with a per-series level and trend so forecasts differ."""
    rng = np.random.default_rng(seed)
    slots = spec.days * 48
    t, g, s = np.meshgrid(
        np.arange(spec.terminals), np.arange(len(GASES)), np.arange(slots), indexing="ij"
    )
    t, g, s = t.ravel(), g.ravel(), s.ravel()
    ts = _START_US + s * _SLOT_US + rng.integers(0, _SLOT_US, len(s))
    level = rng.uniform(0.8, 1.2, (spec.terminals, len(GASES)))[t, g]
    trend = rng.normal(0, 0.002, (spec.terminals, len(GASES)))[t, g]
    value = np.round(np.clip(_readings(rng, g, ts) * level + trend * s, 0.01, None), 2)
    order = np.argsort(ts, kind="stable")
    events = _events_table(
        np.arange(len(ts)), ts[order], t[order], g[order], value[order], rng
    )
    return {"events": events, **_dims(rng, spec.terminals)}


ROW_GROUP = 65_536  # several row groups per feed, so scans can split


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """``{out_dir}/{name}.parquet``: the layout read_table and
    cli.duck_con both read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP)


def write_drops(drops: list[pa.Table], drop_dir: str) -> None:
    """Drop files named and time-stamped in arrival order, so the file
    stream source replays them in that order."""
    os.makedirs(drop_dir, exist_ok=True)
    base = 1_700_000_000
    for k, table in enumerate(drops):
        path = os.path.join(drop_dir, f"drop-{k:04d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + k, base + k))


def digest(tables: dict[str, pa.Table], drops: list[pa.Table] = ()) -> str:
    """Content digest of generated inputs (schema + values, in order)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(_table_bytes(tables[name]))
    for table in drops:
        h.update(_table_bytes(table))
    return h.hexdigest()


def _table_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()
