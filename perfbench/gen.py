"""Seeded fixtures for the spatial serving benchmark.

Everything here is a pure function of the workload seed: the same seed gives
the same hotspots, polygons, query windows and batches. Points are produced by
the engine's own generator (``st_generatepoints``, the ``sources`` layer) and
written raw; polygons are built here as convex rings and encoded as WKB with
numpy, so the oracle can test them from their vertex arrays.
"""

from __future__ import annotations

import numpy as np

EXTENT = 10_000.0
N_HOT = 8
POLY_VERTS = 16  # vertices per convex polygon (the ring has one more, closing)


def hotspots(seed: int) -> np.ndarray:
    """``(N_HOT, 3)`` rows of (center_x, center_y, half_side).

    One hotspot per cell of a 4 x 2 grid, placed at random inside its cell;
    hotspot ``i`` always has the same size. Hotspots never overlap, so the
    skew, and with it the work per operation, does not drift with the seed
    (overlapping hotspots more than doubled the join's candidate pairs on
    some seeds)."""
    rng = np.random.default_rng([seed, 1])
    half = np.linspace(100.0, 500.0, N_HOT)
    cw, ch = EXTENT / 4, EXTENT / 2
    col, row = np.arange(N_HOT) % 4, np.arange(N_HOT) // 4
    cx = (col + 0.5) * cw + rng.uniform(-1, 1, N_HOT) * (cw / 2 - half)
    cy = (row + 0.5) * ch + rng.uniform(-1, 1, N_HOT) * (ch / 2 - half)
    return np.stack([cx, cy, half], axis=1)


def generate_points(spark, n: int, seed: int, hot: np.ndarray, path: str, id_offset: int = 0):
    """Write ``n`` points (``id, x, y``) to ``path``: even ids uniform over the
    extent, odd ids uniform inside one of the hotspot squares."""
    from pyspark.sql import functions as F

    from duckdb_spatial_spark.sources import st_generatepoints

    g = st_generatepoints(spark, 0.0, 0.0, 1.0, 1.0, n, seed=seed)
    k = ((F.col("id") / 2).cast("long") % len(hot) + 1).cast("int")

    def pick(col):
        return F.element_at(F.array(*[F.lit(float(v)) for v in col]), k)

    hx, hy, hh = pick(hot[:, 0]), pick(hot[:, 1]), pick(hot[:, 2])
    uniform = F.col("id") % 2 == 0
    x = F.when(uniform, F.col("x") * EXTENT).otherwise(hx + (F.col("x") - 0.5) * 2.0 * hh)
    y = F.when(uniform, F.col("y") * EXTENT).otherwise(hy + (F.col("y") - 0.5) * 2.0 * hh)
    g.select((F.col("id") + id_offset).alias("id"), x.alias("x"), y.alias("y")).write.mode(
        "overwrite"
    ).parquet(path)


def polygons(m: int, seed: int, hot: np.ndarray) -> np.ndarray:
    """``(m, POLY_VERTS, 2)`` counter-clockwise convex rings (not closed).

    Each ring is an ellipse sampled at sorted random angles, rotated; every
    other center sits in a hotspot, the hotspots taking turns. An affine image of a polygon inscribed in a circle
    is convex, so every ring is convex and non-rectangular."""
    rng = np.random.default_rng([seed, 2])
    on_hot = np.arange(m) % 2 == 0
    h = hot[(np.arange(m) // 2) % len(hot)]
    cx = np.where(on_hot, h[:, 0] + rng.uniform(-1, 1, m) * h[:, 2], rng.uniform(0, EXTENT, m))
    cy = np.where(on_hot, h[:, 1] + rng.uniform(-1, 1, m) * h[:, 2], rng.uniform(0, EXTENT, m))
    a = 10 ** rng.uniform(np.log10(5.0), np.log10(60.0), m)
    b = a * rng.uniform(0.4, 1.0, m)
    rot = rng.uniform(0, np.pi, m)
    # sorted distinct angles: jittered even spacing keeps vertices apart
    base = np.arange(POLY_VERTS) * (2 * np.pi / POLY_VERTS)
    ang = base[None, :] + rng.uniform(0.1, 0.9, (m, POLY_VERTS)) * (2 * np.pi / POLY_VERTS)
    ex = a[:, None] * np.cos(ang)
    ey = b[:, None] * np.sin(ang)
    c, s = np.cos(rot)[:, None], np.sin(rot)[:, None]
    x = cx[:, None] + ex * c - ey * s
    y = cy[:, None] + ex * s + ey * c
    return np.stack([x, y], axis=2)


def polygon_wkb(rings: np.ndarray) -> list[bytes]:
    """Little-endian WKB POLYGON (one closed ring) per row of ``rings``."""
    m, k, _ = rings.shape
    closed = np.concatenate([rings, rings[:, :1, :]], axis=1)
    head = np.zeros(m, dtype=[("bo", "u1"), ("t", "<u4"), ("nr", "<u4"), ("np", "<u4")])
    head["bo"], head["t"], head["nr"], head["np"] = 1, 3, 1, k + 1
    coords = np.ascontiguousarray(closed, dtype="<f8").reshape(m, -1)
    rec = np.concatenate([head.view(np.uint8).reshape(m, -1), coords.view(np.uint8)], axis=1)
    return [r.tobytes() for r in rec]


def write_polygons(rings: np.ndarray, path: str) -> None:
    """Raw polygon fixture: one parquet file of ``pid, geom`` (WKB)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "pid": pa.array(np.arange(len(rings), dtype=np.int64)),
            "geom": pa.array(polygon_wkb(rings), type=pa.binary()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def windows(n: int, seed: int, hot: np.ndarray, stream: int = 3) -> np.ndarray:
    """``(n, 4)`` query windows ``(min_x, min_y, max_x, max_y)``: side
    log-uniform over 10..1000, every other center inside a hotspot (the
    hotspots taking turns).

    The log-side follows a golden-ratio sequence, so any run of consecutive
    windows covers the size range evenly. Window ``i`` has the same size and
    the same hotspot for every seed; the seed moves the windows, hotspots
    and points. So a short run's median latency does not drift with the
    seed."""
    rng = np.random.default_rng([seed, stream])
    u = (np.arange(n) * 0.6180339887498949) % 1.0
    side = 10 ** (1.0 + 2.0 * u)
    on_hot = np.arange(n) % 2 == 0
    h = hot[(np.arange(n) // 2) % len(hot)]
    cx = np.where(on_hot, h[:, 0] + rng.uniform(-1, 1, n) * h[:, 2], rng.uniform(0, EXTENT, n))
    cy = np.where(on_hot, h[:, 1] + rng.uniform(-1, 1, n) * h[:, 2], rng.uniform(0, EXTENT, n))
    return np.stack([cx - side / 2, cy - side / 2, cx + side / 2, cy + side / 2], axis=1)


def point_wkb(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    """Little-endian WKB POINT per coordinate pair."""
    rec = np.zeros(len(x), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    raw = rec.view(np.uint8).reshape(len(x), -1)
    return [r.tobytes() for r in raw]
