"""Multi-resolution quadkey pyramid: per-level tile aggregates of the media
point layer — the tile-server / heatmap rollup a training-data curator uses
to see where a corpus's georeferenced content lives.

The reference has no hierarchical index (its spatial work is per-scene
rasterization, /root/reference/terrakit/download/download_data.py:371-394);
this is a beyond-reference operator built on the engine's quadkey layer
(functions/cells.py — the H3/S2 role: Z-order interleave, parent = pure
bit-shift).

Scale design: the input is scanned ONCE. Points aggregate to the finest
level (one shuffle, map-side combinable); every coarser level then derives
from that already-aggregated table by exploding each tile row to its
(level, parent-quadkey) ancestors and re-aggregating — the rollup input is
|tiles| * n_levels rows (bounded by the tile universe, NOT the corpus), so
a 10^12-point sweep pays one point-shuffle plus a tile-table cascade. All
aggregates here are decomposable (sum/min/max), which is what makes the
cascade exact; a distinct-count pyramid would need the HLL sketch from
textops instead.

The DuckDB oracle intentionally takes the OTHER plan — one direct GROUP BY
over the raw points per level, UNION ALL — so the hash match is a
cross-plan proof that cascaded rollups equal direct aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK, D
from terrakit_spark.functions.cells import QK_LEVEL, quadkey, quadkey_parent
from terrakit_spark.registry import register_df, with_synth

PYRAMID_LEVELS = (QK_LEVEL, 10, 8, 6, 4)  # finest first; parents by shift


def quadkey_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(level, qk) -> point count + exact content extent (min/max lon/lat).

    Extent min/max are raw input doubles (no arithmetic), so cross-engine
    equality is bit-exact; counts are BIGINT sums."""
    _register_views(spark, sf_dir)
    # %5 doc subset: keeps the driver-gate output bounded (~25k tile rows at
    # sf0.01) while every level stays densely populated
    pts = spark.table("media").filter("doc_num % 5 = 0").select("mx", "my")
    base = (
        pts.groupBy(quadkey(F.col("mx"), F.col("my")).alias("qk"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("mx").alias("x_min"),
            F.max("mx").alias("x_max"),
            F.min("my").alias("y_min"),
            F.max("my").alias("y_max"),
        )
    )
    ancestors = F.array(
        *[
            F.struct(
                F.lit(lvl).cast("int").alias("level"),
                quadkey_parent(F.col("qk"), QK_LEVEL, lvl).alias("pqk"),
            )
            for lvl in PYRAMID_LEVELS
        ]
    )
    return (
        base.withColumn("_a", F.explode(ancestors))
        .groupBy(F.col("_a.level").alias("level"), F.col("_a.pqk").alias("qk"))
        .agg(
            F.sum("n_points").alias("n_points"),
            F.min("x_min").alias("x_min"),
            F.max("x_max").alias("x_max"),
            F.min("y_min").alias("y_min"),
            F.max("y_max").alias("y_max"),
        )
    )


def _pyramid_oracle() -> str:
    d = D(DUCK)
    nx = 1 << QK_LEVEL
    terms = []
    for b in range(QK_LEVEL):
        xbit = "(" + d.shiftright("cx", str(b)) + " % 2)"
        ybit = "(" + d.shiftright("cy", str(b)) + " % 2)"
        terms.append(d.shiftleft(xbit, str(2 * b + 1)) + " + " + d.shiftleft(ybit, str(2 * b)))
    bits = " + ".join(terms)
    per_level = []
    for lvl in PYRAMID_LEVELS:
        per_level.append(
            f"""
SELECT CAST({lvl} AS INT) AS level,
       {d.shiftright('qk', str(2 * (QK_LEVEL - lvl)))} AS qk,
       CAST(count(*) AS BIGINT) AS n_points,
       min(mx) AS x_min, max(mx) AS x_max, min(my) AS y_min, max(my) AS y_max
FROM pts GROUP BY 2"""
        )
    union = "\nUNION ALL".join(per_level)
    return with_synth(
        DUCK,
        f"""
WITH pts AS (
  SELECT mx, my, CAST({bits} AS BIGINT) AS qk
  FROM (
    SELECT mx, my,
           least(greatest(CAST(floor((mx + 180.0) / 360.0 * {nx}) AS BIGINT), 0), {nx - 1}) AS cx,
           least(greatest(CAST(floor((90.0 - my) / 180.0 * {nx}) AS BIGINT), 0), {nx - 1}) AS cy
    FROM media WHERE doc_num % 5 = 0
  ) _c
)
{union}
""",
        tables=["media"],
    )


register_df("quadkey_pyramid", quadkey_pyramid, oracle=_pyramid_oracle())
