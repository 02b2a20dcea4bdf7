"""Clustered-layout maintenance: append + fragmentation + compaction
(the parquet analog of the reference's online R-tree maintenance,
core/index/rtree/rtree.cpp)."""

from pyspark.sql import functions as F

from duckdb_spatial_spark.plans import pruning as P


def _points(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 1000).cast("double").alias("x"),
        ((F.col("id") * 7) % 1000).cast("double").alias("y"),
    )


def test_append_fragmentation_compact(spark, tmp_path):
    path = str(tmp_path / "layout")
    base = _points(spark, 0, 20_000)
    P.write_geo_parquet(base, path, point_xy=("x", "y"), num_partitions=4)
    meta = P.read_layout_meta(path)
    assert meta is not None and meta["generation"] == 1
    f0 = P.layout_fragmentation(spark, path)

    P.append_geo_parquet(
        _points(spark, 20_000, 30_000), path, point_xy=("x", "y"), num_partitions=4
    )
    assert P.read_layout_meta(path)["generation"] == 2
    df = spark.read.parquet(path)
    assert df.count() == 30_000
    # appended files overlap the original hilbert ranges
    f1 = P.layout_fragmentation(spark, path)
    assert f1 > f0

    # pruned read stays correct across generations (same bounds => same curve)
    n_pruned = P.filter_bbox(df, 100, 100, 300, 300, exact="within").count()
    n_exact = _points(spark, 0, 30_000).filter(
        (F.col("x") > 100) & (F.col("x") < 300) & (F.col("y") > 100) & (F.col("y") < 300)
    ).count()
    assert n_pruned == n_exact

    # compaction folds the layout back to near-disjoint ranges
    assert P.compact_geo_parquet(spark, path, min_fragmentation=0.0)
    f2 = P.layout_fragmentation(spark, path)
    assert f2 <= f1
    df2 = spark.read.parquet(path)
    assert df2.count() == 30_000
    assert P.read_layout_meta(path)["generation"] == 3
    assert P.filter_bbox(df2, 100, 100, 300, 300, exact="within").count() == n_exact
    # idempotent: already-compact layout skips
    assert not P.compact_geo_parquet(spark, path, min_fragmentation=max(f2, 0.05))


def test_scan_geo_parquet_manifest_pruning(spark, tmp_path):
    path = str(tmp_path / "layout2")
    P.write_geo_parquet(
        _points(spark, 0, 50_000), path, point_xy=("x", "y"), num_partitions=8
    )
    meta = P.read_layout_meta(path)
    assert meta and len(meta["files"]) == 8  # per-file bounds recorded

    # the manifest prunes files on the driver: a window covering a sliver
    # of the hilbert-clustered space binds fewer input files
    full = P.scan_geo_parquet(spark, path)
    win = (100.0, 100.0, 220.0, 220.0)
    pruned = P.scan_geo_parquet(spark, path, bbox=win)
    assert len(pruned.inputFiles()) < len(full.inputFiles())

    # ...and the pruned scan + filter equals the unpruned scan + filter
    n_pruned = P.filter_bbox(pruned, *win, exact="within", points=True).count()
    n_full = P.filter_bbox(full, *win, exact="within", points=True).count()
    assert n_pruned == n_full > 0

    # empty-window scan returns zero rows with the layout schema
    none = P.scan_geo_parquet(spark, path, bbox=(5000.0, 5000.0, 6000.0, 6000.0))
    assert none.count() == 0 and none.columns == full.columns

    # conservative fallbacks: no manifest (or a foreign file) => full read
    import json
    import os

    mp = os.path.join(path, "_geo_layout.json")
    meta2 = dict(meta)
    meta2.pop("files")
    with open(mp, "w", encoding="utf-8") as f:
        json.dump(meta2, f)
    legacy = P.scan_geo_parquet(spark, path, bbox=win)
    assert len(legacy.inputFiles()) == len(full.inputFiles())
    assert P.filter_bbox(legacy, *win, exact="within", points=True).count() == n_full
    with open(mp, "w", encoding="utf-8") as f:
        json.dump(meta, f)

    # manifest stays fresh across append + compact
    P.append_geo_parquet(
        _points(spark, 50_000, 60_000), path, point_xy=("x", "y"), num_partitions=4
    )
    m_app = P.read_layout_meta(path)
    assert len(m_app["files"]) == 12
    n2 = P.filter_bbox(
        P.scan_geo_parquet(spark, path, bbox=win), *win, exact="within", points=True
    ).count()
    n2_full = P.filter_bbox(
        spark.read.parquet(path), *win, exact="within", points=True
    ).count()
    assert n2 == n2_full
    assert P.compact_geo_parquet(spark, path, min_fragmentation=0.0)
    m_cmp = P.read_layout_meta(path)
    assert set(m_cmp["files"]) == {
        os.path.basename(f) for f in spark.read.parquet(path).inputFiles()
    }
    n3 = P.filter_bbox(
        P.scan_geo_parquet(spark, path, bbox=win), *win, exact="within", points=True
    ).count()
    assert n3 == n2_full


def test_file_uri_layout_keeps_manifest(spark, tmp_path):
    """A ``file://`` dataset URI maps to its local directory for the
    manifest write, the manifest read and the compaction swap."""
    uri = (tmp_path / "layout_uri").as_uri()
    P.write_geo_parquet(_points(spark, 0, 20_000), uri, point_xy=("x", "y"), num_partitions=4)
    assert P.read_layout_meta(uri)["generation"] == 1

    win = (100.0, 100.0, 220.0, 220.0)
    full = spark.read.parquet(uri)
    pruned = P.scan_geo_parquet(spark, uri, bbox=win)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    n = P.filter_bbox(pruned, *win, exact="within", points=True).count()
    assert n == P.filter_bbox(full, *win, exact="within", points=True).count() > 0

    P.append_geo_parquet(
        _points(spark, 20_000, 25_000), uri, point_xy=("x", "y"), num_partitions=2
    )
    assert P.read_layout_meta(uri)["generation"] == 2
    assert P.compact_geo_parquet(spark, uri, min_fragmentation=0.0)
    assert P.read_layout_meta(uri)["generation"] == 3
    assert spark.read.parquet(uri).count() == 25_000
