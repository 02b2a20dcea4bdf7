#!/usr/bin/env python3
"""Spatial serving benchmark for ``duckdb_spatial_spark``.

    python3 perfbench/run.py --workload window_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives a closed loop of seeded
operations on ``local[nproc]`` for ``--seconds`` seconds, checks every result
against an engine-independent oracle and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics (spans, Spark event-log metrics,
kernel probes). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("window_query", "pip_join", "append_query")
DEADLINE_S = 170.0  # a run must end well inside 180 s
BBOX = ("bbox_min_x", "bbox_min_y", "bbox_max_x", "bbox_max_y")

SIZES = {
    "full": {
        "points": 200_000, "polygons": 10_000, "join_polygons": 3_000, "layout_files": 8,
        "join_samples": 8,
        "batch": 25_000, "batch_files": 4, "queries_per_append": 4, "appends_per_compact": 3,
        "setup_reps": 3, "warmup_ops": 1,
    },
    # smoke-test size: same code paths, seconds instead of minutes
    "tiny": {
        "points": 4_000, "polygons": 300, "join_polygons": 300, "layout_files": 2,
        "join_samples": 2,
        "batch": 1_000, "batch_files": 1, "queries_per_append": 2, "appends_per_compact": 2,
        "setup_reps": 1, "warmup_ops": 1,
    },
}


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, n)) for n in os.listdir(path) if n.endswith(".parquet")
    )


def parquet_files(path: str) -> int:
    return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))


class Run:
    """One benchmark invocation: session, fixtures, oracle, loop, metrics."""

    def __init__(self, args, size: dict, work: str):
        import gen
        import tracing

        self.gen = gen
        self.args = args
        self.size = size
        self.work = work
        self.seed = args.seed
        self.cores = len(os.sched_getaffinity(0))
        self.tracing = tracing
        self.tr = tracing.Tracer()
        self.hot = gen.hotspots(self.seed)
        self.lat_ms: list[float] = []  # measured operation latencies
        self.cpu_ms: list[float] = []  # CPU time of the whole process tree per measured op
        self.measured_ops: list[str] = []
        self._cpu0 = 0.0
        self._op_id: str | None = None
        self.kind_ms: dict[str, list[float]] = {}
        self.traced_ms: list[float] = []  # measured latencies of traced ops
        self.untraced_ms: list[float] = []
        self.traced_wall: dict[str, float] = {}  # traced op id -> wall seconds
        self.calls: dict[str, list[float]] = {}  # span name -> seconds, traced ops only
        self.checks: list[tuple] = []  # (kind, args, got)
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session ------------------------------------------------------------
    def start_session(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
        )
        # the event log carries every job's task metrics, read back after
        # the session stops (bytes read per operation, per-layer figures)
        evdir = os.path.join(self.work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + evdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self):
        """Stop Spark, then the JVM it launched, and wait for both."""
        import tracing
        from pyspark import SparkContext

        if self.spark is None:
            return
        me = os.getpid()
        self.spark.stop()
        self.spark = None
        left = [p for p in tracing.process_tree(me) if p != me]
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - fall through to SIGKILL below
                proc.kill()
                proc.wait(timeout=10)
        kill_pids(left)

    # -- helpers ------------------------------------------------------------
    def timed(self, name: str, layer: str, fn, *a, **kw):
        """Call ``fn`` inside a span; on traced operations also keep the
        call's wall time under ``name``."""
        t = time.perf_counter()
        with self.tr.span(name, layer):
            out = fn(*a, **kw)
        if self.tr.enabled:
            self.calls.setdefault(name, []).append(time.perf_counter() - t)
        return out

    def begin_op(self, op_id: str, traced: bool):
        """Start an operation: its Spark jobs carry the operation id as their
        job group; a traced one also records spans."""
        self.tr.enabled = traced
        self.tr.op = op_id if traced else None
        self._op_id = op_id
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", op_id)
        self._cpu0 = self.tracing.tree_cpu_s(os.getpid())

    def end_op(self, seconds: float, measured: bool):
        """``measured`` operations are latency samples; traced ones also
        count towards the per-layer figures."""
        traced = self.tr.op is not None
        if traced:
            self.traced_wall[self.tr.op] = seconds
        self.tr.enabled = False
        self.tr.op = None
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if measured:
            self.measured_ops.append(self._op_id)
            self.cpu_ms.append(1e3 * (self.tracing.tree_cpu_s(os.getpid()) - self._cpu0))
            self.lat_ms.append(seconds * 1e3)
            (self.traced_ms if traced else self.untraced_ms).append(seconds * 1e3)

    def traced_ops(self) -> list[str]:
        return list(self.traced_wall)

    def attempt(self, fn, *a):
        """Run one checked operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception as e:  # noqa: BLE001 - a failed operation is a measured outcome
            self.failed += 1
            print(f"operation failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None

    def loop(self, op, seconds: float):
        """Closed loop: warm-up, then ``op(i, traced, measured)`` back to back
        until ``seconds`` have passed. In a traced run every other measured
        operation is traced, so the untraced ones give the tracing overhead."""
        i = 0
        for _ in range(self.size["warmup_ops"]):
            self.attempt(op, i, False, False)
            i += 1
        t_end = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < t_end or n == 0:
            self.attempt(op, i, bool(self.args.trace) and n % 2 == 0, True)
            i += 1
            n += 1

    def verify(self, expected) -> None:
        for n, (kind, a, got) in enumerate(self.checks):
            want = expected(kind, a)
            if self.args.perturb_oracle and n == 0:
                want = perturb(want)
            if got != want:
                self.failed += 1
                print(f"wrong result: {kind} {a!r}: got {got!r}, want {want!r}", file=sys.stderr)

    # -- metrics ------------------------------------------------------------
    def e2e(self, setup_s: float, bytes_per_row: float, peak_mb: float, log) -> dict:
        self.read_kb = [sum(t["input_b"] for t in log.group_tasks(op)) / 1024 for op in self.measured_ops]
        return {
            "setup_s": (setup_s, "s"),
            # a mean, not a median: per-op reads sit on a few discrete levels
            # (footers + whole row groups), and a median of a dozen jumps
            # between them from run to run
            "op_read_kb": (sum(self.read_kb) / max(len(self.read_kb), 1), "KiB"),
            "layout_bytes_per_row": (bytes_per_row, "B/row"),
            "peak_rss_mb": (peak_mb, "MB"),
        }

    def layer_metrics(self, log) -> dict:
        """Per-layer metrics common to every workload, over traced ops."""
        ops = self.traced_ops()
        n = max(len(ops), 1)
        m: dict[str, float] = {}
        selft = self.tr.self_time_s(set(ops))
        for layer in ("bench", "sources", "plans", "operators", "functions", "geo", "spark"):
            m[f"{layer}.self_ms_per_op"] = 1e3 * selft.get(layer, 0.0) / n
        wall_s = sum(self.traced_wall.values())
        jobs = tasks = 0
        run_ms = gc_ms = in_b = sw_b = 0
        py_rows = 0
        for op in ops:
            jobs += len(log.group_jobs(op))
            ts = log.group_tasks(op)
            tasks += len(ts)
            run_ms += sum(t["run_ms"] for t in ts)
            gc_ms += sum(t["gc_ms"] for t in ts)
            in_b += sum(t["input_b"] for t in ts)
            sw_b += sum(t["shuffle_w_b"] for t in ts)
            py_rows += log.node_rows(op, ("ArrowEvalPython", "BatchEvalPython"))
        m["spark.jobs_per_op"] = jobs / n
        m["spark.tasks_per_op"] = tasks / n
        m["spark.input_mb"] = in_b / 2**20 / n
        m["spark.shuffle_write_mb"] = sw_b / 2**20 / n
        m["spark.gc_s"] = gc_ms / 1e3 / n
        m["spark.executor_busy_frac"] = (run_ms / 1e3) / (wall_s * self.cores) if wall_s else 0.0
        m["functions.python_rows"] = py_rows / n
        m["trace.ops"] = float(len(ops))
        m["latency.p50_ms"] = median(self.untraced_ms)
        m["process.cpu_ms_per_op"] = median(self.cpu_ms)
        m["trace.op_p50_ms"] = median(self.traced_ms)
        m["trace.overhead_ms_per_op"] = median(self.traced_ms) - median(self.untraced_ms)
        return m

    def probe_kernels(self, rings, xs, ys) -> dict:
        """Driver-side kernel timings on fixed samples of this run's data:
        WKB decode of polygons, the vectorized recheck and the point-in-polygon
        state kernel on candidate (point, polygon) pairs."""
        import numpy as np
        import pandas as pd

        from duckdb_spatial_spark.functions import fastpath
        from duckdb_spatial_spark.geo import wkb as WKB

        sample = self.gen.polygon_wkb(rings[:256])

        def bench(fn, units):
            reps, t0 = 0, time.perf_counter()
            while True:
                fn()
                reps += 1
                dt = time.perf_counter() - t0
                if dt > 0.25:
                    return dt / (reps * units)

        self.tr.enabled, self.tr.op = True, "probe"
        with self.tr.span("geo.wkb.from_wkb", "geo"):
            decode = bench(lambda: [WKB.from_wkb(b) for b in sample], len(sample))
        order = np.argsort(xs)
        sx = xs[order]
        groups = []
        for r, w in zip(rings[:64], sample[:64]):
            lo, hi = r.min(axis=0), r.max(axis=0)
            a, b = np.searchsorted(sx, [lo[0], hi[0]])
            idx = order[a:b]
            idx = idx[(ys[idx] > lo[1]) & (ys[idx] < hi[1])][:256]
            if len(idx):
                groups.append((xs[idx], ys[idx], w, WKB.from_wkb(w)))
        pairs = sum(len(g[0]) for g in groups)
        if not pairs:
            self.tr.enabled, self.tr.op = False, None
            return {"geo.wkb_decode_us_per_geom": decode * 1e6}
        series = [
            (pd.Series(self.gen.point_wkb(x, y)), pd.Series([w] * len(x)), x, y, g)
            for x, y, w, g in groups
        ]

        def recheck():
            for pts, polys, *_ in series:
                fastpath.try_predicate_batch("within", pts, polys)

        def pip():
            for _, _, x, y, g in series:
                fastpath.polygon_state(x, y, g)

        with self.tr.span("functions.fastpath.try_predicate_batch", "functions"):
            rc = bench(recheck, pairs)
        with self.tr.span("functions.fastpath.polygon_state", "geo"):
            pp = bench(pip, pairs)
        self.tr.enabled, self.tr.op = False, None
        return {
            "geo.wkb_decode_us_per_geom": decode * 1e6,
            "functions.recheck_us_per_row": rc * 1e6,
            "geo.pip_ns_per_pair": pp * 1e9,
        }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One workload: ``setup(rep_dir)`` builds its fixtures and layouts,
    ``prepare_oracle()`` computes expected results outside every timed region,
    ``run_loop(seconds)`` drives the closed loop, ``expected(kind, args)``
    answers for the oracle, and ``layer_live()`` / ``layer(log)`` give the
    workload's own per-layer figures (with the session up / from the event
    log after it stopped)."""

    def __init__(self, run: Run):
        self.r = run
        self.spark = run.spark
        self.gen = run.gen
        self.rep_times: list[dict] = []
        self.files_kept: list[float] = []
        self.hits: dict = {}  # traced op id -> result rows

    def register(self):
        import duckdb_spatial_spark as D

        D.register_all(self.spark)

    def gen_points(self, n, seed, path, id_offset=0):
        self.r.timed("sources.st_generatepoints", "sources", self.gen.generate_points,
                     self.spark, n, seed, self.r.hot, path, id_offset)

    def write_layout(self, df, path, **kw):
        from duckdb_spatial_spark.plans import write_geo_parquet

        self.r.timed("plans.write_geo_parquet", "plans", write_geo_parquet, df, path, **kw)

    def window_count(self, layout, win, **kw):
        """One window count, from the ``scan_geo_parquet`` call to the
        returned row."""
        from duckdb_spatial_spark.plans import filter_bbox, scan_geo_parquet

        d = self.r.timed("plans.scan_geo_parquet", "plans", scan_geo_parquet, self.spark, layout,
                         bbox=tuple(win))
        f = self.r.timed("plans.filter_bbox", "plans", filter_bbox, d, *win, **kw)
        n = self.r.timed("spark.count", "spark", f.count)
        return d, n

    def note_files(self, d, layout):
        """Traced ops only: share of the layout's files the pruned scan binds."""
        if self.r.tr.op is not None:
            self.files_kept.append(len(d.inputFiles()) / max(parquet_files(layout), 1))

    def scan_layer(self, log) -> dict:
        """Pruning figures over the traced queries."""
        ops = self.r.traced_ops()
        scan_rows = sum(log.node_rows(o, ("Scan",)) for o in ops)
        hits = sum(self.hits.get(o, 0) for o in ops)
        return {
            "plans.files_kept_frac": median(self.files_kept),
            "plans.rows_read_per_hit": scan_rows / max(hits, 1),
        }

    def layer_live(self) -> dict:
        return {}

    def layer(self, log) -> dict:
        return {}


class WindowQuery(Workload):
    """Read-only windowed counts on a skewed point layout and a convex-polygon
    layout. One operation is a map-tile request: the point count and the
    polygon count for the same seeded window."""

    def setup(self, rep_dir):
        s = self.r.size
        t0 = time.perf_counter()
        self.register()
        t1 = time.perf_counter()
        self.raw_pts = os.path.join(rep_dir, "raw_points")
        raw_polys = os.path.join(rep_dir, "raw_polygons")
        with self.r.tr.span("sources.generate", "sources"):
            self.gen_points(s["points"], self.r.seed, self.raw_pts)
            self.rings = self.gen.polygons(s["polygons"], self.r.seed, self.r.hot)
            self.gen.write_polygons(self.rings, raw_polys)
        t2 = time.perf_counter()
        self.pts = os.path.join(rep_dir, "points")
        self.polys = os.path.join(rep_dir, "polygons")
        self.write_layout(self.spark.read.parquet(self.raw_pts), self.pts, point_xy=("x", "y"),
                          bounds=(0.0, 0.0, self.gen.EXTENT, self.gen.EXTENT),
                          num_partitions=s["layout_files"])
        self.write_layout(self.spark.read.parquet(raw_polys), self.polys,
                          num_partitions=max(s["layout_files"] // 2, 1))
        t3 = time.perf_counter()
        self.rep_times.append({"total": t3 - t0, "generate": t2 - t1, "write": t3 - t2})

    def prepare_oracle(self):
        import oracle

        self.po = oracle.PointOracle()
        self.po.add(self.raw_pts)
        self.go = oracle.PolygonOracle(self.rings)
        self.windows = self.gen.windows(20_000, self.r.seed, self.r.hot)

    def op(self, i, traced, measured):
        win = self.windows[i]
        self.r.begin_op(f"op{i}", traced)
        t0 = time.perf_counter()
        with self.r.tr.span("op.window", "bench"):
            d1, n_pt = self.window_count(self.pts, win, exact="within", points=True)
            t1 = time.perf_counter()
            d2, n_poly = self.window_count(self.polys, win, exact="intersects")
        t2 = time.perf_counter()
        if measured:
            self.r.kind_ms.setdefault("pt", []).append((t1 - t0) * 1e3)
            self.r.kind_ms.setdefault("poly", []).append((t2 - t1) * 1e3)
        self.note_files(d1, self.pts)
        self.note_files(d2, self.polys)
        if traced:
            self.hits[f"op{i}"] = n_pt + n_poly
        self.r.end_op(t2 - t0, measured)
        self.r.checks.append(("window", i, (n_pt, n_poly)))

    def run_loop(self, seconds):
        self.r.loop(self.op, seconds)

    def expected(self, kind, i):
        win = self.windows[i]
        return (self.po.count(win), self.go.intersects_count(win))

    def layout_bytes_per_row(self):
        s = self.r.size
        return (dir_bytes(self.pts) + dir_bytes(self.polys)) / (s["points"] + s["polygons"])

    def xy(self):
        return self.po.con.execute("SELECT x, y FROM pts").fetchnumpy()

    def layer_live(self):
        from duckdb_spatial_spark.plans.pruning import layout_fragmentation

        return {
            "plans.layout_files": float(parquet_files(self.pts) + parquet_files(self.polys)),
            "plans.fragmentation": layout_fragmentation(self.spark, self.pts),
            "plans.bytes_written_per_row": self.layout_bytes_per_row(),
            "query.pt_p50_ms": median(self.r.kind_ms.get("pt", [])),
            "query.poly_p50_ms": median(self.r.kind_ms.get("poly", [])),
        }

    def layer(self, log):
        return self.scan_layer(log)


class PipJoin(Workload):
    """Batch point-in-polygon zonal count: each operation joins a different
    seeded sample of skewed points against the polygon layout (grid strategy,
    bbox sidecars, exact recheck) and counts matches per polygon.

    A sample is every ``join_samples``-th block of ``block`` consecutive ids.
    A block holds ``N_HOT`` uniform points and one point of each hotspot, so
    every sample has the same mix of sparse and dense points."""

    def __init__(self, run: Run):
        super().__init__(run)
        self.block = 2 * self.gen.N_HOT

    def setup(self, rep_dir):
        s = self.r.size
        t0 = time.perf_counter()
        self.register()
        t1 = time.perf_counter()
        self.raw_pts = os.path.join(rep_dir, "raw_points")
        raw_polys = os.path.join(rep_dir, "raw_polygons")
        with self.r.tr.span("sources.generate", "sources"):
            self.gen_points(s["points"], self.r.seed, self.raw_pts)
            self.rings = self.gen.polygons(s["join_polygons"], self.r.seed, self.r.hot)
            self.gen.write_polygons(self.rings, raw_polys)
        t2 = time.perf_counter()
        self.polys = os.path.join(rep_dir, "polygons")
        self.write_layout(self.spark.read.parquet(raw_polys), self.polys,
                          num_partitions=max(s["layout_files"] // 2, 1))
        t3 = time.perf_counter()
        self.rep_times.append({"total": t3 - t0, "generate": t2 - t1, "write": t3 - t2})

    def prepare_oracle(self):
        import duckdb

        import oracle

        S, B = self.r.size["join_samples"], self.block
        con = duckdb.connect()
        try:
            t = con.execute(
                f"SELECT (id // {B}) % {S} AS k, x, y"
                f" FROM read_parquet('{self.raw_pts}/*.parquet')"
            ).fetchnumpy()
        finally:
            con.close()
        self.x, self.y = t["x"], t["y"]
        go = oracle.PolygonOracle(self.rings)
        self.want, self.sample_rows = {}, {}
        for k in range(S):
            sel = t["k"] == k
            self.want[k] = go.within_counts(self.x[sel], self.y[sel])
            self.sample_rows[k] = int(sel.sum())
        self.call_s: list[float] = []
        self.exec_s: list[float] = []
        self.inputs: dict = {}

    def op(self, i, traced, measured):
        from pyspark.sql import functions as F

        from duckdb_spatial_spark.functions import udfs
        from duckdb_spatial_spark.operators.join import st_join

        S = self.r.size["join_samples"]
        k = i % S
        self.r.begin_op(f"op{i}", traced)
        t0 = time.perf_counter()
        with self.r.tr.span("op.zonal_count", "bench"):
            left = (
                self.spark.read.parquet(self.raw_pts)
                .filter(F.floor(F.col("id") / self.block) % S == k)
                .withColumn("geom", udfs.st_point("x", "y"))
            )
            right = self.spark.read.parquet(self.polys)
            j = self.r.timed("operators.st_join", "operators", st_join, left, right,
                             predicate="within", strategy="grid", left_point=("x", "y"),
                             right_bbox=BBOX)
            t1 = time.perf_counter()
            rows = self.r.timed("spark.collect", "spark", j.groupBy("pid").count().collect)
        t2 = time.perf_counter()
        got = {r["pid"]: r["count"] for r in rows}
        if traced:
            self.call_s.append(t1 - t0)
            self.exec_s.append(t2 - t1)
            self.hits[f"op{i}"] = sum(got.values())
            self.inputs[f"op{i}"] = self.sample_rows[k] + len(self.rings)
        self.r.end_op(t2 - t0, measured)
        self.r.checks.append(("join", k, got))

    def run_loop(self, seconds):
        self.r.loop(self.op, seconds)

    def expected(self, kind, k):
        return self.want[k]

    def layout_bytes_per_row(self):
        return dir_bytes(self.polys) / len(self.rings)

    def xy(self):
        return {"x": self.x, "y": self.y}

    def layer_live(self):
        return {
            "plans.layout_files": float(parquet_files(self.polys)),
            "plans.bytes_written_per_row": self.layout_bytes_per_row(),
            "operators.st_join_call_s": median(self.call_s),
            "operators.join_exec_s": median(self.exec_s),
        }

    def layer(self, log):
        ops = self.r.traced_ops()
        py = sum(log.node_rows(o, ("ArrowEvalPython", "BatchEvalPython")) for o in ops)
        matches = sum(self.hits.get(o, 0) for o in ops)
        cells = sum(log.join_side_rows(o) for o in ops)
        inputs = sum(self.inputs.get(o, 0) for o in ops)
        return {
            "operators.candidates_per_match": py / max(matches, 1),
            "operators.cell_rows_per_input": cells / max(inputs, 1),
        }


class AppendQuery(Workload):
    """Writes beside reads on one point layout: each round appends seeded
    batches, each followed by point-window queries, and ends with a
    compaction. Appends and compactions are traced operations too."""

    def setup(self, rep_dir):
        s = self.r.size
        t0 = time.perf_counter()
        self.register()
        t1 = time.perf_counter()
        self.raw_base = os.path.join(rep_dir, "raw_points")
        with self.r.tr.span("sources.generate", "sources"):
            self.gen_points(s["points"], self.r.seed, self.raw_base)
        t2 = time.perf_counter()
        self.pts = os.path.join(rep_dir, "points")
        self.write_layout(self.spark.read.parquet(self.raw_base), self.pts, point_xy=("x", "y"),
                          bounds=(0.0, 0.0, self.gen.EXTENT, self.gen.EXTENT),
                          num_partitions=s["layout_files"])
        t3 = time.perf_counter()
        self.rep_dir = rep_dir
        self.rep_times.append({"total": t3 - t0, "generate": t2 - t1, "write": t3 - t2})

    def prepare_oracle(self):
        import oracle

        self.po = oracle.PointOracle()
        self.po.add(self.raw_base)
        self.windows = self.gen.windows(20_000, self.r.seed, self.r.hot)
        self.append_s: list[float] = []
        self.compact_s: list[float] = []
        self.rows_appended = 0
        self.bytes_written = 0
        self.bytes_per_row: list[float] = []
        self.files: list[int] = []
        self.frag: list[float] = []
        self.batches = 0

    def query(self, i, traced, measured):
        win = self.windows[i]
        self.r.begin_op(f"op{i}", traced)
        t0 = time.perf_counter()
        with self.r.tr.span("op.point_window", "bench"):
            d, n = self.window_count(self.pts, win, exact="within", points=True)
        t1 = time.perf_counter()
        self.note_files(d, self.pts)
        if traced:
            self.hits[f"op{i}"] = n
            self.files.append(parquet_files(self.pts))
        self.r.end_op(t1 - t0, measured)
        self.r.checks.append(("point", (i, self.po.generations - 1), n))

    def append(self, b, traced):
        from duckdb_spatial_spark.plans.pruning import append_geo_parquet

        s = self.r.size
        raw = os.path.join(self.rep_dir, f"raw_batch_{b}")
        self.gen_points(s["batch"], self.r.seed * 1000 + 17 + b, raw,
                        id_offset=s["points"] + b * s["batch"])
        before = dir_bytes(self.pts)
        self.r.begin_op(f"append{b}", traced)
        t0 = time.perf_counter()
        self.r.timed("plans.append_geo_parquet", "plans", append_geo_parquet,
                     self.spark.read.parquet(raw), self.pts, point_xy=("x", "y"),
                     num_partitions=s["batch_files"])
        dt = time.perf_counter() - t0
        self.r.end_op(dt, False)
        self.append_s.append(dt)
        self.po.add(raw)
        self.rows_appended += s["batch"]
        self.bytes_written += dir_bytes(self.pts) - before
        self.bytes_per_row.append(dir_bytes(self.pts) / self.po.rows())
        if self.r.args.trace:
            from duckdb_spatial_spark.plans.pruning import layout_fragmentation

            self.frag.append(layout_fragmentation(self.spark, self.pts))

    def compact(self, c, traced):
        from duckdb_spatial_spark.plans.pruning import compact_geo_parquet

        self.r.begin_op(f"compact{c}", traced)
        t0 = time.perf_counter()
        self.r.timed("plans.compact_geo_parquet", "plans", compact_geo_parquet, self.spark, self.pts,
                     num_partitions=self.r.size["layout_files"])
        dt = time.perf_counter() - t0
        self.r.end_op(dt, False)
        self.compact_s.append(dt)
        self.bytes_written += dir_bytes(self.pts)
        self.bytes_per_row.append(dir_bytes(self.pts) / self.po.rows())

    def run_loop(self, seconds):
        """Whole rounds only (``appends_per_compact`` appends, each followed by
        ``queries_per_append`` queries, then one compaction), so the ingest
        rate always includes its compaction. A round starts only while the
        previous round's duration still fits in the remaining time."""
        s = self.r.size
        trace = bool(self.r.args.trace)
        i = 0
        for _ in range(s["warmup_ops"]):
            self.r.attempt(self.query, i, False, False)
            i += 1
        t_end = time.perf_counter() + seconds
        last, n, rounds = 0.0, 0, 0
        while rounds == 0 or time.perf_counter() + last < t_end:
            t = time.perf_counter()
            for _ in range(s["appends_per_compact"]):
                self.r.attempt(self.append, self.batches, trace)
                self.batches += 1
                for _ in range(s["queries_per_append"]):
                    self.r.attempt(self.query, i, trace and n % 2 == 0, True)
                    i += 1
                    n += 1
            self.r.attempt(self.compact, rounds, trace)
            rounds += 1
            last = time.perf_counter() - t

    def expected(self, kind, a):
        i, gen = a
        return self.po.count(self.windows[i], gen)

    def ingest_rows_per_s(self):
        t = sum(self.append_s) + sum(self.compact_s)
        return self.rows_appended / t if t else 0.0

    def layout_bytes_per_row(self):
        return median(self.bytes_per_row)

    def layer_live(self):
        return {
            "plans.append_s": median(self.append_s),
            "plans.compact_s": median(self.compact_s),
            "plans.bytes_written_per_row": self.bytes_written / max(self.rows_appended, 1),
            "plans.layout_files": float(median(self.files)),
            "plans.fragmentation": median(self.frag),
            "query.pt_p50_ms": median(self.r.lat_ms),
        }

    def layer(self, log):
        return self.scan_layer(log)


WORKLOAD_CLASSES = {"window_query": WindowQuery, "pip_join": PipJoin, "append_query": AppendQuery}

# per-layer metric -> unit; a layer a workload does not exercise reads 0
PER_LAYER = {
    "sources.generate_s": "s",
    "plans.scan_bind_ms": "ms",
    "plans.filter_plan_ms": "ms",
    "plans.files_kept_frac": "ratio",
    "plans.rows_read_per_hit": "ratio",
    "plans.write_s": "s",
    "plans.append_s": "s",
    "plans.compact_s": "s",
    "plans.bytes_written_per_row": "B/row",
    "plans.layout_files": "count",
    "plans.fragmentation": "ratio",
    "operators.st_join_call_s": "s",
    "operators.join_exec_s": "s",
    "operators.candidates_per_match": "ratio",
    "operators.cell_rows_per_input": "ratio",
    "functions.python_rows": "rows/op",
    "functions.recheck_us_per_row": "us/row",
    "geo.wkb_decode_us_per_geom": "us/geom",
    "geo.pip_ns_per_pair": "ns/pair",
    "spark.jobs_per_op": "count/op",
    "spark.tasks_per_op": "count/op",
    "spark.input_mb": "MB/op",
    "spark.executor_busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB/op",
    "spark.gc_s": "s/op",
    "bench.self_ms_per_op": "ms/op",
    "sources.self_ms_per_op": "ms/op",
    "plans.self_ms_per_op": "ms/op",
    "operators.self_ms_per_op": "ms/op",
    "functions.self_ms_per_op": "ms/op",
    "geo.self_ms_per_op": "ms/op",
    "spark.self_ms_per_op": "ms/op",
    "query.pt_p50_ms": "ms",
    "query.poly_p50_ms": "ms",
    "latency.p50_ms": "ms",
    "process.cpu_ms_per_op": "ms/op",
    "trace.ops": "count",
    "trace.op_p50_ms": "ms",
    "trace.overhead_ms_per_op": "ms/op",
}


# ---------------------------------------------------------------------------
# process plumbing
# ---------------------------------------------------------------------------


def kill_pids(pids) -> None:
    """SIGTERM, then SIGKILL, each pid still alive; wait for them to go."""
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while alive and time.time() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            if alive:
                time.sleep(0.05)
        if not alive:
            return


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            s = f.read()
        return s[s.rfind(")") + 2] == "Z"
    except OSError:
        return True


def watchdog(seconds: float) -> threading.Timer:
    """Abort the whole process tree if the run overstays its deadline."""

    def fire():
        import tracing

        print(f"perfbench: deadline of {seconds:.0f} s exceeded, aborting", file=sys.stderr)
        me = os.getpid()
        kill_pids([p for p in tracing.process_tree(me) if p != me])
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def import_package():
    """Import the package from this checkout only; refuse any other copy."""
    sys.path.insert(0, ROOT)
    try:
        import duckdb_spatial_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import duckdb_spatial_spark from {ROOT}: {e}")
    pkg = os.path.dirname(os.path.abspath(duckdb_spatial_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"perfbench: duckdb_spatial_spark resolved outside the checkout: {pkg}")


def perturb(want):
    """An expected result with one count off by one."""
    if isinstance(want, dict):
        k = min(want) if want else 0
        return {**want, k: want.get(k, 0) + 1}
    if isinstance(want, tuple):
        return (want[0] + 1,) + want[1:]
    return want + 1


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full", help="fixture scale (tiny: smoke test)")
    p.add_argument("--perturb-oracle", action="store_true",
                   help="add one to the first expected result, to check that the result check fires")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    size = SIZES[args.size]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    # every scratch file of Spark, the JVM and the Python workers stays
    # here; set before anything imported can cache the temp directory
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # also reaches the short-lived launcher JVM that spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import_package()
    os.makedirs(tempfile.tempdir, exist_ok=True)
    sys.path.insert(0, HERE)
    import tracing

    dog = watchdog(DEADLINE_S)
    run = Run(args, size, work)
    try:
        with tracing.RssSampler() as rss:
            t0 = time.perf_counter()
            run.start_session()
            session_s = time.perf_counter() - t0
            wl = WORKLOAD_CLASSES[args.workload](run)
            run.tr.enabled = bool(args.trace)  # set-up spans: no op id
            for rep in range(size["setup_reps"]):
                rep_dir = os.path.join(work, f"rep{rep}")
                os.makedirs(rep_dir, exist_ok=True)
                wl.setup(rep_dir)
            run.tr.enabled = False
            setup_s = session_s + median([t["total"] for t in wl.rep_times])
            t1 = time.perf_counter()
            wl.prepare_oracle()  # outside set-up and outside timed regions
            t2 = time.perf_counter()
            wl.run_loop(args.seconds)
            t3 = time.perf_counter()
            run.verify(wl.expected)
            t4 = time.perf_counter()
            phases = {"session": session_s, "reps": [round(t["total"], 2) for t in wl.rep_times],
                      "oracle": t2 - t1, "loop": t3 - t2, "verify": t4 - t3}
            peak_mb = rss.peak / 2**20
            bytes_per_row = wl.layout_bytes_per_row()
            if args.trace:
                layer = {k: 0.0 for k in PER_LAYER}
                layer["sources.generate_s"] = median([t["generate"] for t in wl.rep_times])
                layer["plans.write_s"] = median([t["write"] for t in wl.rep_times])
                layer["plans.scan_bind_ms"] = 1e3 * median(run.calls.get("plans.scan_geo_parquet", []))
                layer["plans.filter_plan_ms"] = 1e3 * median(run.calls.get("plans.filter_bbox", []))
                layer.update(wl.layer_live())
                if hasattr(wl, "rings"):
                    xy = wl.xy()
                    layer.update(run.probe_kernels(wl.rings, xy["x"], xy["y"]))
        run.stop_session()  # finalizes the event log
        log = tracing.EventLog(tracing.find_event_log(os.path.join(work, "eventlog")))
        metrics = run.e2e(setup_s, bytes_per_row, peak_mb, log)
        if isinstance(wl, AppendQuery):
            metrics["ingest_rows_per_s"] = (wl.ingest_rows_per_s(), "rows/s")
        if args.trace:
            layer.update(run.layer_metrics(log))
            layer.update(wl.layer(log))
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.tr.dump(os.path.join(base, "traces", f"{args.workload}-s{args.seed}.spans.jsonl"))
            metrics = {k: (v, PER_LAYER[k]) for k, v in layer.items()}
    finally:
        dog.cancel()
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: phases {json.dumps(phases)} total={time.perf_counter() - t0:.1f}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(run.lat_ms)}"
        f" attempted={run.attempted} failed={run.failed}"
        f" fail_frac={run.failed / max(run.attempted, 1):.4f}"
        f" p50_ms={median(run.lat_ms):.1f} latencies_ms={sorted(round(v) for v in run.lat_ms)}"
        f" cpu_ms={sorted(round(v) for v in run.cpu_ms)}"
        f" read_kb={[round(v, 1) for v in run.read_kb]}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
