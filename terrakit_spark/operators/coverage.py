"""Tile<->label area coverage: exact intersection area of every chip window
against every overlapping label polygon, rolled up per tile.

The reference approximates label coverage per chip by COUNTING burned pixels
(/root/reference/terrakit/chip/chip_and_label.py — mask.sum() over the
rasterized window); this operator computes the EXACT geometric area via the
vectorized Sutherland-Hodgman kernel (functions/geometry.py:clip_area_rect)
— the area-weighted label-assignment a training-data pipeline uses to pick
chips worth keeping (coverage thresholds, class balance by area).

Plan: window grid (pure codegen explode) -> geo tile bboxes -> coarse-cell
equi-join to labels -> canonical-cell dedup + bbox prefilter (JVM-side) ->
ONE Arrow refine per candidate, whose kernel (rect_cover_area) gives a
polygon lying inside its tile its own area, precomputed once per polygon
by the layer's GeomIndex, and sends only boundary-crossing pairs through
the rect clip -> per-tile aggregate. When both layers fit the byte gate,
each is pulled once per application and that pull serves everything: the
salt fan is decided on the driver from the pulled bboxes, and the join
reads both sides from the pulled rows (in-memory relations the planner
broadcasts by their exact size) instead of re-scanning the scenes and
labels files on every call. Over the gate, the join scans the layers and
the probe_salts job decides the fan.

Cross-engine determinism: per-pair areas are scaled to exact integer
micro-deg^2 (round(area * 1e6)) before the rollup, so the group sums are
order-independent BIGINT adds and the DuckDB oracle — an exact closed-form
piecewise-linear integration of the rect x diamond slice (see _ORACLE) —
hashes identically. Both engines see bit-identical pair inputs (tile bounds
are exact binary: scene origins are 0.25-multiples and RES = 2^-7), so the
only float divergence is algorithmic roundoff ~1e-15 « the 0.5e-6 rounding
band."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK
from terrakit_spark.functions.geometry import geom_ref, rect_cover_area, refine_udf
from terrakit_spark.operators.spatial_join import (
    BBOX,
    _diamond_polys,
    cell_pair_join,
    geom_index,
    layer_bboxes,
    stored_layer,
)
from terrakit_spark.registry import register_df, with_synth
from terrakit_spark.synth import RES_SQL

TILE_CELL_DEG = 1.0  # chip windows are 2 deg; the 0.125-deg point grid would
#                      explode each tile to 17x17 cover cells for no pruning
TILE_BOX = ("txmin", "tymin", "txmax", "tymax")


def tile_coverage_join(
    tiles: DataFrame,
    polys: DataFrame,
    cell_deg: float = TILE_CELL_DEG,
    n_salts: int | None = None,
    verts_key: str = "label_id",
) -> DataFrame:
    """tiles(txmin..tymax axis-aligned rects) x polys(xmin..ymax bbox,
    vertices) -> pairs + exact intersection `area` (only area > 0 pairs
    survive; the output never carries `vertices`).

    n_salts: the hotspot-cell lever of cell_pair_join — same combinatorial-
    skew class as convex_overlap_join (a hot cell's tile x label product is
    ONE join key). None (default) decides on the driver (bbox_salts) when
    the polygon layer has a GeomIndex and the tiles' bboxes fit the same
    byte cap, else by the probe_salts job. Each layer that fits is read from
    its pull, not re-scanned.

    One candidate join (cell_pair_join, tiles as its a side) feeds one
    Arrow refine. Its kernel splits on containment: a polygon whose
    vertices all lie inside the tile takes its own area (from the
    GeomIndex, or one shoelace pass on the column path), so only
    boundary-crossing pairs pay clip_area_rect. Geometry is read as in
    cell_pip_join; both paths return the same rows."""
    geo, bcast, rel = geom_index(polys, verts_key)
    tb = None
    if geo is not None:
        polys = rel
        tb, _, tiles_rel = layer_bboxes(tiles, TILE_BOX)
        if tb is not None:
            tiles = tiles_rel
    bboxes = None if tb is None else (tb, geo.bbox)
    cand = cell_pair_join(tiles, polys, TILE_BOX, BBOX, cell_deg, n_salts, bboxes)
    rect = [F.col(c) for c in TILE_BOX]
    area = refine_udf(rect_cover_area, "double", [geom_ref(bcast, verts_key, "vertices")], *rect)
    return cand.withColumn("area", area).filter(F.col("area") > 0.0).drop("vertices")


def _geo_tiles(spark: SparkSession, scene_pred: str) -> DataFrame:
    """Chip windows in geo coordinates (scene xmin/ymin + window offset *
    RES). Tile bounds are exact binary doubles (origins are 0.25-multiples,
    RES = 2^-7), so the DuckDB oracle reproduces them bit-for-bit. Reads
    the application's pulled scene layer (`stored_layer`), so the tile
    layer is pulled from memory, not from the table's files; over
    INDEX_MAX_BYTES it reads the view."""
    return spark.sql(
        f"""
        SELECT scene_id, win_index,
               txmin, tymin, txmin + win_w * {RES_SQL} AS txmax, tymin + win_h * {RES_SQL} AS tymax
        FROM (
          SELECT scene_id, win_index, win_w, win_h,
                 xmin + win_x * {RES_SQL} AS txmin,
                 ymin + win_y * {RES_SQL} AS tymin
          FROM (SELECT scene_id, xmin, ymin,
                       CAST((x div 256) * ((height - 1) div 256 + 1) + (y div 256) AS INT) AS win_index,
                       CAST(CASE WHEN x + 256 > width THEN width - 256 ELSE x END AS INT) AS win_x,
                       CAST(CASE WHEN y + 256 > height THEN height - 256 ELSE y END AS INT) AS win_y,
                       256 AS win_w, 256 AS win_h
                FROM {{scenes}}
                LATERAL VIEW explode(sequence(0, CAST(width - 1 AS BIGINT), 256)) _x AS x
                LATERAL VIEW explode(sequence(0, CAST(height - 1 AS BIGINT), 256)) _y AS y) _wg
          WHERE {scene_pred}
        ) _t
        """,
        scenes=stored_layer(spark, "scenes"),
    )


COVERAGE_SCENE_PRED = "scene_id % 25 = 0"
AREA_SCALE = "1.0e6"  # micro-deg^2: the integer unit both engines sum in


def _coverage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pair table for the coverage query family: (scene_id,
    win_index, labelclass, area_u) — one row per (chip window, label) pair
    with a positive exact intersection, the area scaled to integer
    micro-deg^2 so every downstream rollup is an order-independent BIGINT
    sum (the cross-engine determinism contract in the module docstring)."""
    _register_views(spark, sf_dir)
    tiles = _geo_tiles(spark, COVERAGE_SCENE_PRED)
    polys = _diamond_polys(spark).select(
        "label_id", "labelclass", "xmin", "ymin", "xmax", "ymax", "vertices"
    )
    pairs = tile_coverage_join(tiles, polys)
    return pairs.withColumn(
        "area_u", F.round(F.col("area") * F.lit(1e6), 0).cast("long")
    ).filter(F.col("area_u") > 0)


def tile_label_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chip-window exact label coverage over the scene_id % 25 = 0
    subset: window count, per-label area sum, and coverage fraction of the
    2x2-degree tile. Sum-of-areas semantics (overlapping labels add); pairs
    count when their intersection is >= 1 micro-deg^2 after rounding, and
    sums run over exact BIGINT micro-units so the rollup is order-
    independent and hash-matches the DuckDB closed-form oracle."""
    pairs = _coverage_pairs(spark, sf_dir)
    # tile area is exactly 4 deg^2: 256 px * 2^-7 deg/px = 2 deg per side
    return (
        pairs.groupBy("scene_id", "win_index")
        .agg(
            F.count("*").cast("int").alias("n_labels"),
            F.sum("area_u").alias("_au"),
        )
        .select(
            "scene_id",
            "win_index",
            "n_labels",
            (F.col("_au").cast("double") / F.lit(1e6)).alias("label_area"),
            (F.col("_au").cast("double") / F.lit(4e6)).alias("coverage"),
        )
    )


def _oracle_areas_cte() -> str:
    """Closed-form DuckDB pair table (CTE chain through `areas`): the
    rect x diamond intersection area as an EXACT piecewise-linear
    integration. The vertical slice of the intersection at abscissa x is
        h(x) = max(0, min(tymax, ytop(x)) - max(tymin, ybot(x))),
    ytop/ybot = cy +- ry*(1 - |x-cx|/rx) — piecewise linear with every kink
    at a closed-form abscissa: the diamond apex (cx), and the 8 crossings of
    ytop/ybot with tymin/tymax. Clamping all 9 into [x0, x1] (the bbox
    overlap in x) and sorting gives 10 segments on which h is LINEAR, so
    width * h(midpoint) integrates each segment exactly — no case analysis,
    no approximation. Per-pair areas are rounded to integer micro-deg^2
    exactly like the engine, so every rollup compares as exact BIGINT sums.
    Shared by the whole coverage query family's oracles."""
    res = RES_SQL
    pred = COVERAGE_SCENE_PRED
    ytop = "(cy + ry * (1 - abs((bp[i] + bp[i+1]) * 0.5 - cx) / rx))"
    ybot = "(cy - ry * (1 - abs((bp[i] + bp[i+1]) * 0.5 - cx) / rx))"
    seg = f"(bp[i+1] - bp[i]) * greatest(0.0, least(tymax, {ytop}) - greatest(tymin, {ybot}))"
    clamp = "greatest(x0, least(x1, {v}))"
    bps = ", ".join(
        clamp.format(v=v)
        for v in (
            "cx",
            "cx - rx * (cy + ry - tymax) / ry",
            "cx + rx * (cy + ry - tymax) / ry",
            "cx - rx * (cy + ry - tymin) / ry",
            "cx + rx * (cy + ry - tymin) / ry",
            "cx - rx * (tymax - cy + ry) / ry",
            "cx + rx * (tymax - cy + ry) / ry",
            "cx - rx * (tymin - cy + ry) / ry",
            "cx + rx * (tymin - cy + ry) / ry",
        )
    )
    body = f"""
WITH wins AS (
  SELECT scene_id, width, height,
         CAST((x // 256) * ((height - 1) // 256 + 1) + (y // 256) AS INT) AS win_index,
         CAST(CASE WHEN x + 256 > width THEN width - 256 ELSE x END AS INT) AS win_x,
         CAST(CASE WHEN y + 256 > height THEN height - 256 ELSE y END AS INT) AS win_y
  FROM (SELECT scene_id, width, height, x,
               unnest(generate_series(0, CAST(height - 1 AS BIGINT), 256)) AS y
        FROM (SELECT scene_id, width, height,
                     unnest(generate_series(0, CAST(width - 1 AS BIGINT), 256)) AS x
              FROM scenes WHERE {pred}) _sx) _sy
),
tiles AS (
  SELECT w.scene_id, w.win_index,
         s.xmin + w.win_x * {res} AS txmin,
         s.ymin + w.win_y * {res} AS tymin,
         (s.xmin + w.win_x * {res}) + 256 * {res} AS txmax,
         (s.ymin + w.win_y * {res}) + 256 * {res} AS tymax
  FROM wins w JOIN scenes s ON w.scene_id = s.scene_id
),
cand AS (
  SELECT t.scene_id, t.win_index, t.txmin, t.tymin, t.txmax, t.tymax,
         l.labelclass, l.cx, l.cy, l.rx, l.ry,
         greatest(t.txmin, l.cx - l.rx) AS x0,
         least(t.txmax, l.cx + l.rx) AS x1
  FROM tiles t JOIN labels l
    ON t.txmin <= l.cx + l.rx AND l.cx - l.rx <= t.txmax
   AND t.tymin <= l.cy + l.ry AND l.cy - l.ry <= t.tymax
),
areas AS (
  SELECT scene_id, win_index, labelclass,
         CAST(round({AREA_SCALE} * list_sum(list_transform(generate_series(1, 10),
              i -> {seg})), 0) AS BIGINT) AS area_u
  FROM (SELECT *, list_sort([x0, x1, {bps}]) AS bp FROM cand) _b
)"""
    return body


def _coverage_oracle() -> str:
    body = (
        _oracle_areas_cte()
        + """
SELECT scene_id, win_index,
       CAST(count(*) AS INT) AS n_labels,
       CAST(sum(area_u) AS DOUBLE) / 1e6 AS label_area,
       CAST(sum(area_u) AS DOUBLE) / 4e6 AS coverage
FROM areas
WHERE area_u > 0
GROUP BY scene_id, win_index
"""
    )
    return with_synth(DUCK, body, tables=["scenes", "labels"])


register_df("tile_label_coverage", tile_label_coverage, oracle=_coverage_oracle())


# --------------------------------------------------- chip selection by area
# The reason the exact-coverage join exists (reference analogue:
# /root/reference/terrakit/chip/chip_and_label.py keeps chips by burned-
# pixel count): pick the training chips worth storing. Thresholds run on
# the exact integer micro-units (coverage >= 0.25 <=> sum(area_u) >=
# 1,000,000), the per-scene top-k is a row_number window over the ALREADY
# AGGREGATED window table (bounded rows per scene — no global sort, the
# TakeOrderedAndProject lesson), and the dominant class is an exact BIGINT
# argmax with ties to the smallest class id.
SELECTION_MIN_AU = 1_000_000  # coverage >= 0.25 of the 4 deg^2 tile
SELECTION_TOP_K = 4


def _window_class_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window rollup with per-class exact area sums (classes are 1..3
    in the synthetic layer, mirroring the reference's EMSR label classes)."""
    pairs = _coverage_pairs(spark, sf_dir)
    cls = lambda c: F.sum(F.when(F.col("labelclass") == c, F.col("area_u")).otherwise(F.lit(0)))
    return pairs.groupBy("scene_id", "win_index").agg(
        F.count("*").cast("int").alias("n_labels"),
        F.sum("area_u").alias("_au"),
        cls(1).alias("_a1"),
        cls(2).alias("_a2"),
        cls(3).alias("_a3"),
    )


def _with_selection(win: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    dom_class = (
        F.when((F.col("_a1") >= F.col("_a2")) & (F.col("_a1") >= F.col("_a3")), F.lit(1))
        .when(F.col("_a2") >= F.col("_a3"), F.lit(2))
        .otherwise(F.lit(3))
    )
    dom_au = F.greatest("_a1", "_a2", "_a3")
    w = Window.partitionBy("scene_id").orderBy(F.col("_au").desc(), F.col("win_index"))
    return (
        win.filter(F.col("_au") >= SELECTION_MIN_AU)
        .withColumn("sel_rank", F.row_number().over(w))
        .filter(F.col("sel_rank") <= SELECTION_TOP_K)
        .withColumn("dom_class", dom_class.cast("int"))
        .withColumn("_dom_au", dom_au)
    )


def coverage_chip_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-chip selection: windows with exact label coverage >= 0.25,
    top-4 per scene by coverage (ties broken by win_index — a total order,
    so both engines rank identically), with the area-dominant label class."""
    sel = _with_selection(_window_class_table(spark, sf_dir))
    return sel.select(
        "scene_id",
        "win_index",
        "sel_rank",
        "n_labels",
        (F.col("_au").cast("double") / F.lit(4e6)).alias("coverage"),
        "dom_class",
        (F.col("_dom_au").cast("double") / F.lit(1e6)).alias("dom_area"),
    )


def coverage_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balance of the SELECTED chip set (the quantity a curriculum
    builder rebalances on): per dominant class, window count, total dominant
    area, and mean coverage — all derived from exact integer sums, the one
    division per output column done identically by both engines."""
    sel = _with_selection(_window_class_table(spark, sf_dir))
    return sel.groupBy("dom_class").agg(
        F.count("*").cast("int").alias("n_windows"),
        (F.sum("_dom_au").cast("double") / F.lit(1e6)).alias("total_dom_area"),
        (F.sum("_au").cast("double") / (F.lit(4e6) * F.count("*"))).alias("mean_coverage"),
    )


def _selection_ctes() -> str:
    """Oracle CTE chain win -> sel shared by the selection-family tails."""
    return (
        _oracle_areas_cte()
        + f""",
win AS (
  SELECT scene_id, win_index,
         CAST(count(*) AS INT) AS n_labels,
         sum(area_u) AS au,
         sum(CASE WHEN labelclass = 1 THEN area_u ELSE 0 END) AS a1,
         sum(CASE WHEN labelclass = 2 THEN area_u ELSE 0 END) AS a2,
         sum(CASE WHEN labelclass = 3 THEN area_u ELSE 0 END) AS a3
  FROM areas WHERE area_u > 0
  GROUP BY scene_id, win_index
),
sel AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY scene_id
                                 ORDER BY au DESC, win_index) AS INT) AS sel_rank,
         CAST(CASE WHEN a1 >= a2 AND a1 >= a3 THEN 1
                   WHEN a2 >= a3 THEN 2 ELSE 3 END AS INT) AS dom_class,
         greatest(a1, a2, a3) AS dom_au
  FROM win WHERE au >= {SELECTION_MIN_AU}
)"""
    )


def _selection_oracle() -> str:
    body = (
        _selection_ctes()
        + f"""
SELECT scene_id, win_index, sel_rank, n_labels,
       CAST(au AS DOUBLE) / 4e6 AS coverage,
       dom_class,
       CAST(dom_au AS DOUBLE) / 1e6 AS dom_area
FROM sel WHERE sel_rank <= {SELECTION_TOP_K}
"""
    )
    return with_synth(DUCK, body, tables=["scenes", "labels"])


def _class_balance_oracle() -> str:
    body = (
        _selection_ctes()
        + f"""
SELECT dom_class,
       CAST(count(*) AS INT) AS n_windows,
       CAST(sum(dom_au) AS DOUBLE) / 1e6 AS total_dom_area,
       CAST(sum(au) AS DOUBLE) / (4e6 * count(*)) AS mean_coverage
FROM sel WHERE sel_rank <= {SELECTION_TOP_K}
GROUP BY dom_class
"""
    )
    return with_synth(DUCK, body, tables=["scenes", "labels"])


register_df("coverage_chip_selection", coverage_chip_selection, oracle=_selection_oracle())
register_df("coverage_class_balance", coverage_class_balance, oracle=_class_balance_oracle())
