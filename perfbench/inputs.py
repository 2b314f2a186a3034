"""Seeded inputs for the four workloads.

The doc table is the engine's derived point table: ``id -> (x, y, ts)``
with 40% of points in 3 hot clusters.  It is computed here by the DuckDB
twin of the derivation (``functions/geo_derive``'s SQL form, proven
bit-identical to the Spark form by the repo's tests), written as parquet
and read by Spark at ingest, so the engine sees only generated files and
the oracles hold the very same doubles.

Everything the seed picks (query batches, polygons, moved-object batches,
the stream's events) comes from ``rng(seed, stream, op)``: the same seed
gives the same inputs, independently of how many ops a run gets through.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from distributed_spatial_index_spark.config import (
    EPOCH_MS,
    QUERY_RADIUS,
    WINDOW_MS,
    X_HI,
    Y_HI,
)
from distributed_spatial_index_spark.functions import geo_derive as gd

# rng stream tags, so two kinds of input never share random draws
RANGE, POLY, STREAM, MOVE, LANDQ, KERNEL = range(6)


def rng(seed: int, stream: int, op: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, op])


@dataclass
class Points:
    id: np.ndarray
    x: np.ndarray
    y: np.ndarray
    ts: np.ndarray

    def __len__(self) -> int:
        return len(self.id)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({"id": self.id, "x": self.x, "y": self.y, "ts": self.ts})


def derived_points(n_docs: int) -> Points:
    """The derived point table for ids 0..n_docs-1, via the DuckDB twin."""
    con = duckdb.connect()
    try:
        cols = con.execute(
            f"SELECT id, {gd.derive_x_sql('id')} AS x, {gd.derive_y_sql('id')} AS y,"
            f" {gd.derive_ts_sql('id')} AS ts FROM range({n_docs}) t(id) ORDER BY id"
        ).fetchnumpy()
    finally:
        con.close()
    return Points(
        cols["id"].astype(np.int64), cols["x"].astype(np.float64),
        cols["y"].astype(np.float64), cols["ts"].astype(np.int64),
    )


def write_parquet(df: pd.DataFrame, path: str, n_files: int) -> None:
    """``df`` as ``n_files`` parquet files under ``path`` (several files so
    Spark's scan is parallel from the first stage)."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


def rect_batch(points: Points, r: np.random.Generator, n: int,
               first_qid: int, pool: np.ndarray | None = None) -> pd.DataFrame:
    """``n`` query rects of half-width QUERY_RADIUS centred on random docs
    (from ``pool`` if given), the reference's query shape."""
    idx = r.choice(pool if pool is not None else len(points), n, replace=False)
    cx, cy = points.x[idx], points.y[idx]
    return pd.DataFrame({
        "query_id": np.arange(first_qid, first_qid + n, dtype=np.int64),
        "xmin": cx - QUERY_RADIUS, "ymin": cy - QUERY_RADIUS,
        "xmax": cx + QUERY_RADIUS, "ymax": cy + QUERY_RADIUS,
    })


def polygon_batch(points: Points, r: np.random.Generator, n: int,
                  first_qid: int) -> list[tuple[int, np.ndarray]]:
    """``n`` star-shaped (simple, mostly concave) polygons around random
    docs, 3 to 24 vertices each: far more distinct vertex counts than the
    unrolled codegen path takes, so ``pip_join`` routes them to its
    general Arrow-refine path by input shape alone."""
    idx = r.choice(len(points), n, replace=False)
    out = []
    for j, i in enumerate(idx):
        k = int(r.integers(3, 25))
        ang = np.sort(r.uniform(0.0, 2 * np.pi, k))
        rad = r.uniform(0.4, 1.0, k) * 1.5 * QUERY_RADIUS
        verts = np.column_stack((
            points.x[i] + rad * np.cos(ang), points.y[i] + rad * np.sin(ang)
        ))
        out.append((first_qid + j, verts))
    return out


def stream_chunk(points: Points, r: np.random.Generator, k: int,
                 size: int) -> pd.DataFrame:
    """Chunk ``k`` of the event stream: ``size`` events at derived-doc
    positions, event time inside window ``k`` only, sorted by event time,
    so chunks are event-time ordered and never late under a zero-delay
    watermark."""
    idx = r.choice(len(points), size, replace=True)
    start = EPOCH_MS + k * WINDOW_MS
    ts = np.sort(r.integers(start, start + WINDOW_MS, size))
    return pd.DataFrame({
        "id": np.arange(k * size, (k + 1) * size, dtype=np.int64),
        "x": points.x[idx], "y": points.y[idx],
        "ts": event_time(ts),
    })


def event_time(ms) -> pd.Series:
    """Epoch ms as a UTC microsecond timestamp column (Spark's TIMESTAMP
    in parquet)."""
    return pd.Series(pd.to_datetime(ms, unit="ms", utc=True)).astype(
        "datetime64[us, UTC]")


def epoch_ms(ts: pd.Series) -> np.ndarray:
    """A timestamp column (naive = UTC) back to epoch ms."""
    if ts.dt.tz is None:
        ts = ts.dt.tz_localize("UTC")
    return ((ts - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(milliseconds=1)).to_numpy(np.int64)


def moved_batch(x: np.ndarray, y: np.ndarray, r: np.random.Generator,
                pool: np.ndarray, n: int, shift: float) -> pd.DataFrame:
    """``n`` existing ids from ``pool`` with positions shifted by up to
    ``shift`` in each axis, kept inside the region."""
    ids = np.sort(r.choice(pool, n, replace=False))
    nx = np.clip(x[ids] + r.uniform(-shift, shift, n), 0.0, X_HI)
    ny = np.clip(y[ids] + r.uniform(-shift, shift, n), 0.0, Y_HI)
    return pd.DataFrame({"id": ids.astype(np.int64), "x": nx, "y": ny})
