"""Hotspot-cell salting (north rule): the salted shuffle path must produce
EXACTLY the same join output as the unsalted path — salting only reshapes
the shuffle, never the result."""

from __future__ import annotations

from terrakit_spark.catalog import _register_views
from terrakit_spark.operators.spatial_join import _diamond_polys, cell_pip_join


def test_salted_join_exactness(synth, spark, sf_dir):
    _register_views(spark, sf_dir)
    points = spark.table("media").select("media_ref", "mx", "my")
    polys = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")

    base = {
        (r.media_ref, r.label_id)
        for r in cell_pip_join(points, polys).select("media_ref", "label_id").collect()
    }
    salted = {
        (r.media_ref, r.label_id)
        for r in cell_pip_join(points, polys, n_salts=8).select("media_ref", "label_id").collect()
    }
    assert salted == base and len(base) > 0


def test_adaptive_cell_join_exactness(synth, spark, sf_dir):
    """Density-adaptive cell sizing (the round-4 sf1 lesson) is a
    candidate-generation device: whatever resolution it picks, the refined
    join output must equal the fixed-grid output exactly."""
    from terrakit_spark.operators.spatial_join import adaptive_cell_deg

    _register_views(spark, sf_dir)
    points = spark.table("media").select("media_ref", "mx", "my")
    polys = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")

    import math

    deg = adaptive_cell_deg(points, "mx", "my", polys)
    assert 1.0 / 256 <= deg <= 1.0
    assert math.log2(deg).is_integer()  # nested/deterministic power-of-two grid
    base = {
        (r.media_ref, r.label_id)
        for r in cell_pip_join(points, polys, cell_deg=0.125).select("media_ref", "label_id").collect()
    }
    adaptive = {
        (r.media_ref, r.label_id)
        for r in cell_pip_join(points, polys, cell_deg=deg).select("media_ref", "label_id").collect()
    }
    assert adaptive == base and len(base) > 0


def test_salted_fan_tracks_cluster_parallelism(synth, spark, sf_dir):
    """The pinned salted shuffle's partition count must derive from the
    cluster's defaultParallelism, not a literal core count — on an N->4N
    cluster a constant fan caps the salted stage at the dev box's width,
    the exact scaling the salting exists to buy."""
    import re

    from terrakit_spark.operators.spatial_join import convex_overlap_join, salted_partitions

    dp = spark.sparkContext.defaultParallelism
    assert salted_partitions(spark.range(1), 16) == 16 * dp

    _register_views(spark, sf_dir)
    d = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    points = spark.table("media").select("media_ref", "mx", "my")
    joins = {
        "overlap": lambda: convex_overlap_join(d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1"), n_salts=4),
        "point": lambda: cell_pip_join(points, d, n_salts=4),
    }
    for name, join in joins.items():
        plan = join()._jdf.queryExecution().executedPlan().toString()
        fans = re.findall(r"hashpartitioning\([^)]*_salt[^)]*,\s*(\d+)\)", plan)
        assert fans, f"salted exchange missing from the {name} plan"
        assert all(int(x) == 4 * dp for x in fans), (name, fans, dp)
    # a shuffled join reuses the pinned partitioning of both sides: no
    # further exchange on the salt (e.g. on a cast of one side's salt key)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, join in joins.items():
            plan = join()._jdf.queryExecution().executedPlan().toString()
            salted = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln and "_salt" in ln]
            assert len(salted) == 2 and all("REPARTITION_BY_NUM" in ln for ln in salted), (name, salted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_probe_salts_decision(synth, spark, sf_dir):
    """The salting decision is probed, not hand-flipped (the round-5 sf0.1
    falsification: 'unsalted is fine at low density' was wrong because the
    hotspot's candidate PRODUCT, not the density, is the skew). On the
    synthetic hotspot layer the probe must salt; on a uniform layer with no
    dominant cell it must not."""
    from pyspark.sql import functions as F

    from terrakit_spark.functions.cells import with_cover_cells
    from terrakit_spark.operators.spatial_join import probe_salts

    _register_views(spark, sf_dir)
    d = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    a = with_cover_cells(d.filter("label_id % 2 = 0"), "xmin", "ymin", "xmax", "ymax", out="_cell")
    b = with_cover_cells(d.filter("label_id % 2 = 1"), "xmin", "ymin", "xmax", "ymax", out="_cell")
    n = probe_salts(a, b)
    assert n > 0 and n & (n - 1) == 0  # hotspot layer -> salted, power-of-two fan

    # uniform layer: one small bbox per distinct cell, product 1 everywhere
    u = spark.range(512).select(
        (F.col("id") % 64 - 32.0 + 0.2).alias("xmin"),
        (F.col("id") / 64.0 - 4.0 + 0.2).cast("double").alias("ymin"),
        (F.col("id") % 64 - 32.0 + 0.4).alias("xmax"),
        (F.col("id") / 64.0 - 4.0 + 0.4).cast("double").alias("ymax"),
    )
    uc = with_cover_cells(u, "xmin", "ymin", "xmax", "ymax", out="_cell")
    assert probe_salts(uc, uc) == 0


def test_adaptive_cell_tracks_density(spark):
    """10x the points in the same area -> the selector picks a finer (or
    equal, when clamped) cell; sparse data picks a coarse cell."""
    from pyspark.sql import functions as F

    from terrakit_spark.operators.spatial_join import adaptive_cell_deg

    polys = spark.createDataFrame([(0.0, 0.0, 1.0, 1.0)], "xmin double, ymin double, xmax double, ymax double")

    def pts(n):
        return spark.range(n).select(
            (F.col("id") % 100 / 10.0).alias("mx"), (F.col("id") % 97 / 9.7).alias("my")
        )

    sparse = adaptive_cell_deg(pts(500), "mx", "my", polys)
    dense = adaptive_cell_deg(pts(50_000), "mx", "my", polys)
    assert dense <= sparse
    assert dense < sparse or dense == 1.0 / 256  # strictly finer unless clamped
