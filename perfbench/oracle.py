"""Engine-independent expected results.

Point windows are counted by DuckDB over the raw ``x, y`` parquet files.
Polygon windows and point-in-polygon counts are decided with numpy from the
generated convex rings. Nothing here touches Spark or the package under test.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


class PointOracle:
    """Counts of raw points strictly inside axis-aligned windows
    (``ST_Within(point, envelope)``). Each raw fixture directory is one
    generation; a query at generation ``g`` sees generations ``0..g``."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE pts (gen INTEGER, x DOUBLE, y DOUBLE)")
        self.generations = 0

    def add(self, path: str) -> None:
        self.con.execute(
            f"INSERT INTO pts SELECT {self.generations}, x, y FROM read_parquet('{path}/*.parquet')"
        )
        self.generations += 1

    def count(self, win, gen: int | None = None) -> int:
        g = self.generations - 1 if gen is None else gen
        x0, y0, x1, y1 = (float(v) for v in win)
        return self.con.execute(
            "SELECT count(*) FROM pts WHERE gen <= ? AND x > ? AND x < ? AND y > ? AND y < ?",
            [g, x0, x1, y0, y1],
        ).fetchone()[0]

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM pts").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def _cross(rings: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Cross product of each ring edge with the vector to each point:
    ``rings`` (n, k, 2), ``px``/``py`` (n, c) -> (n, k, c). Positive means left
    of the edge, i.e. inside for a counter-clockwise ring."""
    a = rings
    b = np.roll(rings, -1, axis=1)
    ex = (b[:, :, 0] - a[:, :, 0])[:, :, None]
    ey = (b[:, :, 1] - a[:, :, 1])[:, :, None]
    return ex * (py[:, None, :] - a[:, :, 1, None]) - ey * (px[:, None, :] - a[:, :, 0, None])


class PolygonOracle:
    """Exact tests against convex counter-clockwise rings."""

    def __init__(self, rings: np.ndarray):
        self.rings = rings
        self.lo = rings.min(axis=1)
        self.hi = rings.max(axis=1)

    def intersects_count(self, win) -> int:
        """Polygons whose closed area meets the closed window. By the
        separating-axis theorem two convex sets are disjoint iff the window
        bbox misses the polygon bbox or some polygon edge has all four
        window corners strictly outside it."""
        x0, y0, x1, y1 = (float(v) for v in win)
        cand = np.nonzero(
            (self.lo[:, 0] <= x1) & (self.hi[:, 0] >= x0) & (self.lo[:, 1] <= y1) & (self.hi[:, 1] >= y0)
        )[0]
        if len(cand) == 0:
            return 0
        cx = np.tile(np.array([x0, x1, x1, x0]), (len(cand), 1))
        cy = np.tile(np.array([y0, y0, y1, y1]), (len(cand), 1))
        separated = (_cross(self.rings[cand], cx, cy) < 0).all(axis=2).any(axis=1)
        return int((~separated).sum())

    def within_counts(self, x: np.ndarray, y: np.ndarray) -> dict[int, int]:
        """``{pid: number of points strictly inside polygon pid}`` (points on
        a boundary are not within, as in ``ST_Within``). Candidate pairs come
        from a DuckDB range join on the polygon bboxes."""
        con = duckdb.connect()
        try:
            con.register("pts", pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y}))
            con.register("boxes", pd.DataFrame({
                "pid": np.arange(len(self.rings)),
                "x0": self.lo[:, 0], "y0": self.lo[:, 1], "x1": self.hi[:, 0], "y1": self.hi[:, 1],
            }))
            pairs = con.execute(
                "SELECT p.i, b.pid FROM pts p JOIN boxes b"
                " ON p.x > b.x0 AND p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1"
            ).fetchnumpy()
        finally:
            con.close()
        pi, pid = pairs["i"].astype(np.int64), pairs["pid"].astype(np.int64)
        counts: dict[int, int] = {}
        step = 200_000
        for s in range(0, len(pi), step):
            i, p = pi[s : s + step], pid[s : s + step]
            inside = (_cross(self.rings[p], x[i][:, None], y[i][:, None])[:, :, 0] > 0).all(axis=1)
            ids, n = np.unique(p[inside], return_counts=True)
            for a, b in zip(ids.tolist(), n.tolist()):
                counts[a] = counts.get(a, 0) + b
        return counts
