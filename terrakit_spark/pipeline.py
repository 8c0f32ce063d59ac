"""End-to-end chipping pipeline — the reference's full dataset-generation
flow (labels -> download -> rasterize -> chip -> store,
/root/reference/terrakit/__main__.py:47-52) as one Spark job:

  1. labels -> per-date envelope bboxes (A1, transform/labels.py:363-413)
  2. temporal as-of join of label dates to scene dates (J1,
     download/download_data.py:240-297; window [d, d+7], first-min tie)
  3. scene x label candidate pairs via cover-cell equi-join (J2 pruning)
  4. per-scene label burn (rasterize, download/download_data.py:326-396)
     -> int32 label image as binary
  5. data-pixel materialization (S6 analogue) + optional impute/scale
     transforms (download/download_data.py:300-307)
  6. edge-clamped 256-window chipping of BOTH cubes with the same window
     list (W1/W2, chip/tiling.py:160-222,298-345) + per-band Σx/Σx²
     partials (A3)
  7. snapshot-committed chip table with per-partition lineage (K5/K7)

Every pixel touch happens inside Arrow batch UDFs (numpy); everything
between is DataFrame API. Scenes repartition round-robin before the heavy
mapInPandas stages so one fat-dim scene run doesn't serialize a thread."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.operators.asof import _asof_join
from terrakit_spark.operators.rasterize import burn_image, diamond_cube, scene_label_pairs
from terrakit_spark.operators.spatial_join import _pull, stored_layer
from terrakit_spark.sources.raster import scene_pixels
from terrakit_spark.synth import CHIP


def _windows(w: int, h: int, c: int = CHIP) -> list[tuple[int, int, int]]:
    """(win_index, x, y) with the reference's edge-clamp rule."""
    xs = [w - c if x + c > w else x for x in range(0, w, c)]
    ys = [h - c if y + c > h else y for y in range(0, h, c)]
    out = []
    i = 0
    for x in xs:
        for y in ys:
            out.append((i, x, y))
            i += 1
    return out


def asof_matches(spark: SparkSession, scene_filter: str = "true") -> DataFrame:
    """J1 as-of matches (datetime, scene_date_str, abs_diff) of the label
    dates that match a scene, over the application's pulled label and scene
    layers (`stored_layer`); scene_filter as in _asof_join."""
    text = _asof_join("spark", scene_filter, labels="{labels}", scenes="{scenes}")
    asof = spark.sql(text, labels=stored_layer(spark, "labels"), scenes=stored_layer(spark, "scenes"))
    return asof.filter("scene_date_str IS NOT NULL")


def matched_scenes(
    spark: SparkSession, scene_pred: str, scenes_df: DataFrame | None = None, matched_dates: list[str] | None = None
) -> DataFrame:
    """Scenes that win the as-of join for at least one label date, over
    the application's pulled scene layer (`stored_layer`). scenes_df
    overrides that layer (streaming micro-batches feed their arrivals
    here; the as-of filter still applies). matched_dates (a staged job's
    committed download matches) replaces the as-of join."""
    scenes = (scenes_df if scenes_df is not None else stored_layer(spark, "scenes")).filter(scene_pred)
    if matched_dates is not None:
        return scenes.filter(F.col("scene_date_str").isin(list(matched_dates)))
    asof = asof_matches(spark).select("scene_date_str").distinct()
    return scenes.join(F.broadcast(asof), "scene_date_str")


# §2.10 — pluggable download-transformation registry (the reference's
# template at download/transformations/download_transformation_template.py,
# registration at download/download_data.py:300-307): name -> cube kernel
def _t_scale(cube):
    from terrakit_spark.functions.raster_kernels import scale_bands

    return scale_bands(cube, [0.5] * cube.shape[0])


def _t_impute(cube):
    import numpy as np

    from terrakit_spark.functions.raster_kernels import impute_nodata_nearest

    return np.stack([impute_nodata_nearest(cube[b]) for b in range(cube.shape[0])])


TRANSFORMS = {
    "scale_data": _t_scale,
    "impute_nans": _t_impute,
}


def register_transform(name: str, fn) -> None:
    TRANSFORMS[name] = fn


_LABEL_ROW_BYTES = 48  # 6 numeric cols x 8 B: the broadcast dict's payload


def _label_arrays(t, max_bytes: float) -> dict | None:
    """The broadcast label layer: numpy columns in geom_seq order, or None
    when rows x _LABEL_ROW_BYTES is over max_bytes."""
    if t.num_rows * _LABEL_ROW_BYTES > max_bytes:
        return None
    order = np.argsort(t.column("geom_seq").to_numpy(), kind="stable")
    out = {c: t.column(c).to_numpy()[order].astype(np.float64) for c in ("cx", "cy", "rx", "ry")}
    out["cls"] = t.column("labelclass").to_numpy()[order].astype(np.int32)
    return out


def chip_pipeline(
    spark: SparkSession,
    sf_dir: str,
    scene_pred: str = "true",
    shuffle_parts: int | None = None,
    transforms: list[str] | None = None,
    skip_zero_scenes: bool = False,
    memoize_burns: bool = True,
    scenes_df: DataFrame | None = None,
    matched_dates: list[str] | None = None,
) -> DataFrame:
    """Returns the chip table: one row per (scene, window) with data chip,
    label chip, and per-band integer stat partials. matched_dates: the
    scenes are already matched (see matched_scenes).

    The label layer takes one of two paths, picked by its size alone:
      - broadcast, when rows x 48 B fits INDEX_MAX_BYTES: the layer ships to
        every chipper task as numpy arrays (sorted by geom_seq) and
        candidate selection is a vectorized bbox overlap inside the UDF.
        This removes the (scene x label) pair join entirely; with hotspot
        skew that join is quadratic (measured 17.5M pairs at sf0.1) while
        the label table itself is ~2 MB. The arrays are pulled once per
        (application, semantic plan, gate) by the memoized `_pull` from the
        application's pulled label layer (`stored_layer`, so no file is
        re-read): Spark's plan size estimate screens it, then the exact
        gate — no count probe, and a second call pulls and broadcasts
        nothing.
      - join, over the gate: cover-cell equi-join + per-scene
        collect_list (salted/AQE at scale)."""
    _register_views(spark, sf_dir)
    scenes = matched_scenes(spark, scene_pred, scenes_df=scenes_df, matched_dates=matched_dates)
    n_parts = shuffle_parts or spark.sparkContext.defaultParallelism

    bc = _pull(stored_layer(spark, "labels"), ["geom_seq", "labelclass", "cx", "cy", "rx", "ry"], _label_arrays).bcast

    if bc is not None:
        # cost-striped partitioning: order scenes by pixel cost desc and
        # stripe round-robin across partitions (longest-processing-time
        # placement) — a plain hash repartition leaves fat-dim stragglers
        # that dominate the stage tail at high parallelism
        from pyspark.sql import Window as W

        cost = (F.col("width").cast("long") * F.col("height") * F.col("bands"))
        src = (
            scenes.select(
                "scene_id", "scene_date_str", "bands", "width", "height",
                "xmin", "ymin", "xmax", "ymax",
            )
            .withColumn("_p", F.row_number().over(W.orderBy(F.desc(cost), F.col("scene_id"))) % n_parts)
            .repartitionByRange(n_parts, "_p")
            .drop("_p")
        )
    else:
        # -- J2: candidate labels per scene, collected per scene for the burn
        pairs = scene_label_pairs(spark, scene_pred).join(
            F.broadcast(scenes.select("scene_id")), "scene_id", "left_semi"
        )
        polys_per_scene = (
            pairs.select(
                "scene_id",
                F.struct("geom_seq", "labelclass", "cx", "cy", "rx", "ry").alias("g"),
            )
            .groupBy("scene_id")
            .agg(F.sort_array(F.collect_list("g")).alias("polys"))
        )
        src = (
            scenes.join(polys_per_scene, "scene_id", "left")
            .select("scene_id", "scene_date_str", "bands", "width", "height", "xmin", "ymax", "polys")
            .repartition(n_parts, "scene_id")
        )

    # keep yielded Arrow batches bounded: a 256x256x3 f32 chip is ~0.8 MB,
    # so flush every ~64 chips (~50 MB) instead of one giant frame per batch
    FLUSH_CHIPS = 64

    def chipper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "scene_id", "scene_date_str", "win_index", "win_x", "win_y",
            "bands", "chip_w", "chip_h", "data", "label",
            "px_sum", "px_sumsq", "label_mass",
        ]
        # Per-task burn memo keyed by raster footprint: tiled archives
        # (Sentinel-2 MGRS-style fixed grids) revisit the same footprint for
        # every acquisition date, and the label burn is a pure function of
        # (grid, label layer) — burn each footprint once per task, not once
        # per scene (J6 dedup-before-compute applied to rasterization).
        # Bounded LRU; arbitrary-footprint archives just miss and pay the
        # normal burn. Broadcast path only (the join path's candidate set
        # is per-scene).
        burn_memo: dict[tuple[float, float, int, int], np.ndarray] = {}
        MEMO_MAX = 32 if memoize_burns else 0
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if len(rows) >= FLUSH_CHIPS:
                    yield pd.DataFrame(rows, columns=cols)
                    rows = []
                nb, h, w = int(r.bands), int(r.height), int(r.width)
                cube = scene_pixels(int(r.scene_id), nb, h, w)  # data fetch (S6)
                for tname in transforms or []:
                    cube = TRANSFORMS[tname](cube)
                if skip_zero_scenes and not cube.any():
                    # F13 zero-scene guard (sentinelhub.py:174-176)
                    continue
                if bc is not None:
                    # exact float key: only bit-identical footprints share a burn
                    key = (float(r.xmin), float(r.ymax), w, h)
                    if MEMO_MAX and key in burn_memo:
                        label_img = burn_memo[key]
                    else:
                        # broadcast path: vectorized bbox-overlap candidate
                        # selection against the whole (seq-sorted) label layer
                        L = bc.value
                        sel = (
                            (L["cx"] - L["rx"] <= float(r.xmax))
                            & (L["cx"] + L["rx"] >= float(r.xmin))
                            & (L["cy"] - L["ry"] <= float(r.ymax))
                            & (L["cy"] + L["ry"] >= float(r.ymin))
                        )
                        idx = np.nonzero(sel)[0]
                        polys = diamond_cube(L["cx"][idx], L["cy"][idx], L["rx"][idx], L["ry"][idx])
                        classes = [int(c) for c in L["cls"][idx]]
                        label_img = burn_image(w, h, float(r.xmin), float(r.ymax), polys, classes)
                        if MEMO_MAX:
                            if len(burn_memo) >= MEMO_MAX:
                                burn_memo.pop(next(iter(burn_memo)))
                            burn_memo[key] = label_img
                elif r.polys is not None and len(r.polys) > 0:
                    g = pd.DataFrame(list(r.polys))
                    polys = diamond_cube(g["cx"], g["cy"], g["rx"], g["ry"])
                    label_img = burn_image(w, h, float(r.xmin), float(r.ymax), polys, list(g["labelclass"]))
                else:
                    label_img = np.zeros((h, w), dtype=np.int32)
                for win_index, x, y in _windows(w, h):
                    x0, y0 = max(x, 0), max(y, 0)
                    x1, y1 = min(x + CHIP, w), min(y + CHIP, h)
                    dchip = cube[:, y0:y1, x0:x1]
                    lchip = label_img[y0:y1, x0:x1]
                    di = dchip.astype(np.int64)
                    rows.append(
                        (
                            int(r.scene_id),
                            r.scene_date_str,
                            win_index,
                            int(x),
                            int(y),
                            nb,
                            dchip.shape[2],
                            dchip.shape[1],
                            dchip.tobytes(),
                            lchip.astype(np.int32).tobytes(),
                            [int(v) for v in di.sum(axis=(1, 2))],
                            [int(v) for v in (di * di).sum(axis=(1, 2))],
                            int((lchip > 0).sum()),
                        )
                    )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    schema = (
        "scene_id long, scene_date_str string, win_index int, win_x int, win_y int, "
        "bands int, chip_w int, chip_h int, data binary, label binary, "
        "px_sum array<long>, px_sumsq array<long>, label_mass long"
    )
    return src.mapInPandas(chipper, schema=schema)


def dataset_stats(chips: DataFrame) -> DataFrame:
    """A3 final aggregation from per-chip partials: per-band mean/std over
    all chips (clean semantics; the reference's pixel_count quirk at
    /root/reference/terrakit/chip/tiling.py:359 is reproduced in
    dataset_stats_quirk)."""
    per_band = chips.select(
        "scene_id",
        F.posexplode("px_sum").alias("band", "s"),
        (F.col("chip_w").cast("long") * F.col("chip_h")).alias("n"),
        F.expr("px_sumsq").alias("_sq"),
    ).select("scene_id", "band", "s", "n", F.expr("_sq[band]").alias("sq"))
    agg = per_band.groupBy("band").agg(
        F.sum("s").alias("sum_x"),
        F.sum("sq").alias("sum_x2"),
        F.sum("n").alias("n_px"),
    )
    return agg.select(
        "band",
        "n_px",
        (F.col("sum_x") / F.col("n_px")).alias("mean"),
        F.sqrt(F.col("sum_x2") / F.col("n_px") - (F.col("sum_x") / F.col("n_px")) * (F.col("sum_x") / F.col("n_px"))).alias("std"),
    )


def dataset_stats_quirk(chips: DataFrame) -> DataFrame:
    """The reference's quirky variant: pixel_count = n_tiles * H * W of the
    LAST image and a scalar collapse across bands
    (/root/reference/terrakit/chip/tiling.py:353-362). Reproduced for parity
    documentation: quirk kept, delta documented in SURVEY §6."""
    one = chips.orderBy(F.col("scene_id").desc(), F.col("win_index").desc()).select("chip_w", "chip_h").limit(1)
    last = one.collect()[0]
    n_tiles = chips.count()
    pixel_count = n_tiles * last.chip_w * last.chip_h
    tot = chips.select(
        F.explode("px_sum").alias("s")
    ).agg(F.sum("s").alias("sum_x")).crossJoin(
        chips.select(F.explode("px_sumsq").alias("q")).agg(F.sum("q").alias("sum_x2"))
    )
    return tot.select(
        (F.col("sum_x") / F.lit(pixel_count)).alias("total_mean"),
        F.sqrt(F.col("sum_x2") / F.lit(pixel_count) - (F.col("sum_x") / F.lit(pixel_count)) * (F.col("sum_x") / F.lit(pixel_count))).alias("total_std"),
    )
