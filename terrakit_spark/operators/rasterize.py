"""J2 full — rasterize (label burn) onto scene grids.

The reference burns ALL label geometries onto every queried raster
(/root/reference/terrakit/download/download_data.py:326-396): fill 0 (or -1
with set_no_data), class id per polygon, later shapes overwriting earlier
(rasterio default). Spark plan:

  scenes --cover cells--> x labels --cover cells--> : cell equi-join
  (never a nested-loop theta join), canonical-cell dedup and exact
  bbox-overlap filter (cell_pair_join), groupBy(scene) -> applyInPandas
  burn (vectorized ray-cast per polygon in geom_seq order) -> per-class
  pixel histograms.

The histogram (not the full image) is the query output so the oracle stays
tractable; the burn itself produces full label images in the chipping
pipeline. Burn-order correctness is pinned by overlapping polygons of
different classes in the synthetic layer + the arg_max(geom_seq) oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK
from terrakit_spark.functions.geometry import ray_cast
from terrakit_spark.operators.chips import SMALL_PRED_SQL
from terrakit_spark.operators.spatial_join import BBOX, adaptive_cell_deg, cell_pair_join, stored_layer
from terrakit_spark.registry import register_df, with_synth
from terrakit_spark.synth import RES, RES_SQL

BACKGROUND = 0  # /root/reference/terrakit/download/download_data.py:369


BURN_EDGE_MIN_POLYS = 24  # below this the painter's fixed numpy cost wins


def burn_image(
    width: int,
    height: int,
    xmin: float,
    ymax: float,
    polys: list[np.ndarray] | np.ndarray,
    classes: list[int],
    res: float = RES,
    fill: int = BACKGROUND,
) -> np.ndarray:
    """Burn polygons (pre-sorted by geom_seq; a list of (V, 2) arrays or
    one (n, V, 2) cube) over the pixel grid; later polygons overwrite
    earlier. Pixel center (x,y) = (xmin + (x+0.5)*res, ymax - (y+0.5)*res),
    north-up.

    Dispatches between two bit-identical kernels: the per-polygon
    occlusion-culled painter (below) for small polygon counts, and the
    batched edge-table scanline kernel (_burn_image_edges) once the
    ~120 us/polygon Python-side loop overhead would dominate — the round-4
    sf1 profile's named upgrade (hot sf1 scenes carry ~10^5 overlapping
    polygons => ~14 s/scene in the painter's per-poly loop; the edge
    kernel amortizes everything into whole-array numpy passes)."""
    if len(polys) >= BURN_EDGE_MIN_POLYS:
        out = _burn_image_edges(width, height, xmin, ymax, polys, classes, res, fill)
        if out is not None:
            return out
    return _burn_image_painter(width, height, xmin, ymax, polys, classes, res, fill)


def diamond_cube(cx, cy, rx, ry) -> np.ndarray:
    """(n, 4, 2) float64 vertices of the label diamonds, in _diamond_polys'
    order: (cx - rx, cy), (cx, cy - ry), (cx + rx, cy), (cx, cy + ry)."""
    cx, cy, rx, ry = (np.asarray(a, dtype=np.float64) for a in (cx, cy, rx, ry))
    xs = np.stack([cx - rx, cx, cx + rx, cx], axis=1)
    ys = np.stack([cy, cy - ry, cy, cy + ry], axis=1)
    return np.stack([xs, ys], axis=2)


def burn_scene(pdf: pd.DataFrame, fill: int = BACKGROUND) -> np.ndarray:
    """The label image of one scene from its scene_label_pairs rows, burned
    in geom_seq order."""
    pdf = pdf.sort_values("geom_seq")
    polys = diamond_cube(pdf["cx"], pdf["cy"], pdf["rx"], pdf["ry"])
    return burn_image(
        int(pdf["width"].iloc[0]), int(pdf["height"].iloc[0]), float(pdf["xmin"].iloc[0]),
        float(pdf["ymax"].iloc[0]), polys, list(pdf["labelclass"]), fill=fill,
    )


def _burn_image_edges(
    width: int,
    height: int,
    xmin: float,
    ymax: float,
    polys: list[np.ndarray],
    classes: list[int],
    res: float,
    fill: int,
) -> np.ndarray | None:
    """Batched edge-table scanline rasterization — vectorized passes over
    BATCHES of polygons instead of a Python loop per polygon.

    Per batch (descending geom_seq, so highest-priority polygons first):

      edges -> crossed scanline rows (searchsorted, half-open [ymin, ymax))
            -> exact crossing column per (edge, row)
            -> even-odd pairing per (poly, row) -> spans
            -> expand spans to pixels, paint ONLY still-unset pixels
               (ascending geom_seq within the batch; last write wins)

    The batch structure keeps the painter's occlusion property: a pixel is
    written at most twice (once per masked-batch pass it survives), so at
    10^5 overlapping polygons total work is O(pixels + alive polygon
    edges), not O(sum of polygon areas) — while every numpy op runs over
    whole batch arrays (no ~120 us/polygon loop floor). Row-level culling
    (any unset pixel in the polygon's row range, via one prefix sum) skips
    fully-occluded polygons without touching their edges, and the kernel
    stops as soon as the image is fully painted.

    Bit-identical to the painter kernel: the crossing test is the SAME
    division-free predicate as functions.geometry.ray_cast ((px-xi)*dy
    vs (xj-xi)*(py-yi), strict both directions), evaluated exactly at the
    +-2-pixel window around the divided estimate — the division only
    steers the searchsorted, never decides a pixel.

    Returns None when an even-odd group has an odd crossing count (a
    degenerate polygon the painter should arbitrate) — callers fall back."""
    UNSET = np.int32(-2147483648)
    img_flat = np.full(height * width, UNSET, dtype=np.int32)
    n = len(polys)
    if n == 0:
        img_flat[:] = fill
        return img_flat.reshape(height, width)
    xs = xmin + (np.arange(width, dtype=np.float64) + 0.5) * res
    ys_rev = (ymax - (np.arange(height, dtype=np.float64) + 0.5) * res)[::-1]  # ascending

    try:
        parr = np.stack(polys)  # (n, V, 2) uniform vertex count
    except ValueError:
        # ragged vertex counts: this kernel's edge tables assume a uniform
        # V — honor the documented return-None contract so burn_image falls
        # back to the painter (which handles ragged via padded bboxes +
        # per-poly ray casts)
        return None
    V = parr.shape[1]
    cls_arr = np.asarray(classes, dtype=np.int32)
    # All integer work below runs in int32 where the bound proves it fits.
    # Measured neutral on speed (<=2% at 1 and at 32 concurrent workers,
    # hot sf1 scene): the kernel is DRAM-streaming-bound (mp isolation:
    # parallel efficiency 0.44 == the memcpy control, vs 0.75 for the
    # cache-resident compute control) but the traffic is dominated by the
    # float64 crossing math and image writes, not these index arrays.
    # Kept for per-task footprint: 32 executor threads each hold the edge
    # tables concurrently, and halving them buys spill headroom at scale.
    # per-poly crossed-row range in ascending (ys_rev) space, for culling
    p_alo = np.searchsorted(ys_rev, parr[:, :, 1].min(axis=1), "left").astype(np.int32)
    p_ahi = np.searchsorted(ys_rev, parr[:, :, 1].max(axis=1), "left").astype(np.int32)
    # per-poly candidate column range (image space), for 2-D tile culling
    p_xlo = np.searchsorted(xs, parr[:, :, 0].min(axis=1), "left").astype(np.int32)
    p_xhi = np.searchsorted(xs, parr[:, :, 0].max(axis=1), "right").astype(np.int32)

    TS = 32  # tile size for the unset-occupancy grid (2-D occlusion cull)
    ty_edges = np.arange(0, height, TS)
    tx_edges = np.arange(0, width, TS)

    BATCH = 1024
    img2d = img_flat.reshape(height, width)
    for hi in range(n, 0, -BATCH):
        lo = max(0, hi - BATCH)
        # occlusion culling: a polygon is invisible when NO tile inside its
        # pixel bbox still holds an unset pixel — the painter's occupancy
        # grid, evaluated for the whole batch with one 2-D prefix sum
        unset2d = img2d == UNSET
        if not unset2d.any():
            break  # fully painted — every remaining polygon is occluded
        tiles = np.add.reduceat(np.add.reduceat(unset2d, ty_edges, axis=0), tx_edges, axis=1)
        P = np.zeros((tiles.shape[0] + 1, tiles.shape[1] + 1), dtype=np.int64)
        np.cumsum(np.cumsum(tiles, axis=0), axis=1, out=P[1:, 1:])
        bp = np.arange(lo, hi)
        # image-row range [height - p_ahi, height - p_alo) -> tile rect
        ry0 = np.maximum(height - p_ahi[bp], 0) // TS
        ry1 = (np.minimum(height - p_alo[bp], height) - 1) // TS + 1
        rx0 = p_xlo[bp] // TS
        rx1 = (np.minimum(p_xhi[bp], width) - 1) // TS + 1
        has_rows = (p_ahi[bp] > p_alo[bp]) & (p_xhi[bp] > p_xlo[bp])
        ry1 = np.maximum(ry1, ry0)
        rx1 = np.maximum(rx1, rx0)
        rect = P[ry1, rx1] - P[ry0, rx1] - P[ry1, rx0] + P[ry0, rx0]
        bp = bp[has_rows & (rect > 0)]
        if bp.size == 0:
            continue

        # edge table for the surviving batch (predecessor j = i-1 mod V,
        # matching ray_cast's edge orientation)
        sub = parr[bp]
        xi = sub[:, :, 0].ravel()
        yi = sub[:, :, 1].ravel()
        xj = np.roll(sub[:, :, 0], 1, axis=1).ravel()
        yj = np.roll(sub[:, :, 1], 1, axis=1).ravel()
        poly_of_edge = np.repeat(np.arange(bp.size, dtype=np.int32), V)

        # scanlines crossed by each edge: pixel-center py in [min(y), max(y))
        # (matches ray_cast's strict (yi>py) != (yj>py) half-open convention)
        a_lo = np.searchsorted(ys_rev, np.minimum(yi, yj), "left").astype(np.int32)
        a_hi = np.searchsorted(ys_rev, np.maximum(yi, yj), "left").astype(np.int32)
        cnt = a_hi - a_lo  # 0 for horizontal edges (dy==0) and off-grid edges
        keep = np.nonzero(cnt > 0)[0].astype(np.int32)
        if keep.size == 0:
            continue
        kcnt = cnt[keep]
        csum64 = np.cumsum(kcnt, dtype=np.int64)
        if csum64[-1] >= 2**31:  # arbitrary V x height could overflow int32
            return None  # painter arbitrates (unreachable for diamond labels)
        csum = np.concatenate(([np.int32(0)], csum64.astype(np.int32)))
        eid = np.repeat(keep, kcnt)
        arow = a_lo[eid] + (np.arange(csum[-1], dtype=np.int32) - np.repeat(csum[:-1], kcnt))

        # (poly, row)-level occlusion cull BEFORE the expensive crossing
        # math: drop every instance whose image row holds no unset pixel
        # inside the polygon's column range (per-row prefix sum of the
        # unset mask; two gathers per instance). The test uses the POLY's
        # full column range, so it keeps or drops whole (poly, row)
        # groups — the even-pairing invariant survives. This is what
        # makes 10^5-deep stacking linear-ish: interior rows of occluded
        # polygons vanish here, only tip rows near still-unset background
        # pay for crossings.
        P2 = np.zeros((height, width + 1), dtype=np.int32)
        P2[:, 1:] = np.cumsum(unset2d, axis=1)
        inst_poly = poly_of_edge[eid]
        r_img = height - 1 - arow
        gxlo = p_xlo[bp][inst_poly]
        gxhi = np.minimum(p_xhi[bp][inst_poly], width)
        live_i = P2[r_img, gxhi] - P2[r_img, gxlo] > 0
        if not live_i.any():
            continue
        eid, arow, inst_poly = eid[live_i], arow[live_i], inst_poly[live_i]
        py = ys_rev[arow]

        exi, edy = xi[eid], yj[eid] - yi[eid]
        rhs = (xj[eid] - xi[eid]) * (py - yi[eid])
        # crossing-count estimate: pixels with the predicate true form a
        # prefix of the row (both edge directions); the flip index is near t
        with np.errstate(invalid="ignore", over="ignore"):
            t = exi + rhs / edy
        # +-1 window suffices: the divided estimate's absolute error is a
        # few ulps of |t| (~1e-13 deg) while pixel spacing is res — the
        # estimate can land at most one index off the true flip
        base = np.searchsorted(xs, t, "left").astype(np.int32) - 1
        pos = edy > 0
        f = base.copy()
        for off in range(3):  # exact predicate at the window; count trues
            k = base + off
            px = xs[np.clip(k, 0, width - 1)]
            lhs = (px - exi) * edy
            p = np.where(pos, lhs < rhs, lhs > rhs)
            f += (k < 0) | ((k < width) & p)

        # even-odd pairing per (poly, row): sort crossings, pair [0,1),[2,3)…
        # (every group has even size, so global stride-2 slicing pairs
        # within groups). One fused integer key -> numpy's stable sort is
        # RADIX for ints, several times faster than a two-key lexsort.
        g = inst_poly * np.int64(height) + arow
        W2 = np.int64(width + 2)
        order = np.argsort(g * W2 + f, kind="stable")
        gs = g[order]
        fs = f[order]
        starts = np.nonzero(np.concatenate(([True], gs[1:] != gs[:-1])))[0]
        sizes = np.diff(np.concatenate((starts, [len(gs)])))
        if (sizes & 1).any():
            return None  # degenerate even-odd group — painter arbitrates
        span_s = fs[0::2]
        span_e = fs[1::2]
        span_g = gs[0::2]
        length = span_e - span_s
        live = np.nonzero(length > 0)[0]
        if live.size == 0:
            continue
        span_s, span_e, span_g = span_s[live], span_e[live], span_g[live]
        flat_row = (height - 1 - (span_g % height)) * np.int64(width)
        flat0 = flat_row + span_s
        flat1 = flat_row + span_e

        # intersect each span with the STILL-UNSET pixel list (the
        # painter's occlusion property, batched): pixels painted by
        # earlier — higher-priority — batches are simply absent from u, so
        # the expansion enumerates only paintable pixels, never the span's
        # full width. Spans are in ascending geom_seq order (lexsort's
        # primary key is the poly index) and duplicate-index fancy
        # assignment keeps the LAST value — numpy's documented behavior —
        # so within the batch the highest geom_seq wins. Sub-chunked from
        # the END (first-write-wins across sub-chunks needs descending
        # priority, with an unset re-check) when a batch's candidate count
        # is extreme.
        u = np.nonzero(img_flat == UNSET)[0]
        lo_idx = np.searchsorted(u, flat0)
        hi_idx = np.searchsorted(u, flat1)
        ucnt = hi_idx - lo_idx
        live = np.nonzero(ucnt > 0)[0]
        if live.size == 0:
            continue
        lo_idx, ucnt = lo_idx[live], ucnt[live]
        vals = cls_arr[bp[span_g[live] // height]]
        cum = np.cumsum(ucnt)
        total = int(cum[-1])
        CHUNK = 32_000_000
        if total <= CHUNK:
            bounds = np.array([0, len(ucnt)])
        else:
            cuts = np.searchsorted(cum, np.arange(CHUNK, total, CHUNK, dtype=np.int64)) + 1
            bounds = np.unique(np.concatenate(([0], cuts, [len(ucnt)])))
        for b0, b1 in zip(bounds[-2::-1], bounds[:0:-1]):
            ln = ucnt[b0:b1]
            tot = int(ln.sum())
            if tot == 0:
                continue
            cs = np.concatenate(([0], np.cumsum(ln)))
            pix = u[np.repeat(lo_idx[b0:b1], ln) + (np.arange(tot) - np.repeat(cs[:-1], ln))]
            if len(bounds) > 2:  # split batch: later sub-chunks must not
                m = img_flat[pix] == UNSET  # overwrite higher-priority writes
                img_flat[pix[m]] = np.repeat(vals[b0:b1], ln)[m]
            else:
                img_flat[pix] = np.repeat(vals[b0:b1], ln)
    img_flat[img_flat == UNSET] = fill
    return img_flat.reshape(height, width)


def _burn_image_painter(
    width: int,
    height: int,
    xmin: float,
    ymax: float,
    polys: list[np.ndarray],
    classes: list[int],
    res: float = RES,
    fill: int = BACKGROUND,
) -> np.ndarray:
    """Reverse-order occlusion-culled painter (the original kernel):
    O(pixels) ray-cast work, ~120 us/polygon Python-side loop floor."""
    UNSET = np.int32(-2147483648)
    img = np.full((height, width), UNSET, dtype=np.int32)
    if len(polys) == 0:
        img[:] = fill
        return img
    xs = xmin + (np.arange(width, dtype=np.float64) + 0.5) * res
    ys = ymax - (np.arange(height, dtype=np.float64) + 0.5) * res  # decreasing
    ys_rev = ys[::-1]

    # coarse occupancy grid: per-tile unset counts let fully-occluded
    # polygons skip without touching pixels (painter's algorithm with
    # occlusion culling — dense hotspots overlap thousands of polygons)
    TS = 64
    th = (height + TS - 1) // TS
    tw = (width + TS - 1) // TS
    tiles_unset = np.zeros((th, tw), dtype=np.int64)
    for ty in range(th):
        for tx in range(tw):
            tiles_unset[ty, tx] = min(TS, height - ty * TS) * min(TS, width - tx * TS)

    # Precompute all bboxes vectorized (one pass instead of 2 numpy
    # reductions per polygon inside the loop — hotspot scenes see 10^4
    # overlapping polygons and the per-poly Python overhead is the cost).
    try:
        parr = np.stack(polys)  # (n, V, 2) uniform vertex count
    except ValueError:
        # ragged batch: pad by repeating the last vertex (the geometry UDFs'
        # _pad_vertices rule) — padding never changes a bbox, and the
        # per-poly ray casts below use the ORIGINAL unpadded polys[i]
        V = max(p.shape[0] for p in polys)
        parr = np.stack([
            np.vstack([p, np.repeat(p[-1:], V - p.shape[0], axis=0)]) for p in polys
        ])
    bx0a, by0a = parr.min(axis=1).T
    bx1a, by1a = parr.max(axis=1).T
    x_lo_a = np.searchsorted(xs, bx0a, "left")
    x_hi_a = np.searchsorted(xs, bx1a, "right")
    y_lo_a = height - np.searchsorted(ys_rev, by1a, "right")
    y_hi_a = height - np.searchsorted(ys_rev, by0a, "left")

    # REVERSE geom_seq order with first-write-wins == forward last-wins:
    # once a region is written, polygons underneath never pay a ray cast,
    # bounding total PIP work by O(pixels), not O(pixels x polygons).
    remaining = int(tiles_unset.sum())
    n = len(polys)
    for i in range(n - 1, -1, -1):
        x_lo, x_hi = int(x_lo_a[i]), int(x_hi_a[i])
        y_lo, y_hi = int(y_lo_a[i]), int(y_hi_a[i])
        if x_lo >= x_hi or y_lo >= y_hi:
            continue
        ty0, ty1 = y_lo // TS, (y_hi - 1) // TS + 1
        tx0, tx1 = x_lo // TS, (x_hi - 1) // TS + 1
        if tiles_unset[ty0:ty1, tx0:tx1].sum() == 0:
            continue
        block = img[y_lo:y_hi, x_lo:x_hi]
        unset = block == UNSET
        rows, cols = np.nonzero(unset)
        if rows.size == 0:
            continue
        poly = polys[i]
        hit = ray_cast(
            xs[x_lo + cols],
            ys[y_lo + rows],
            np.broadcast_to(poly, (rows.size, poly.shape[0], 2)),
        )
        nhit = int(hit.sum())
        if nhit:
            hr, hc = rows[hit], cols[hit]
            block[hr, hc] = classes[i]
            # decremental occupancy update: we know exactly which tiles the
            # written pixels fall in — no rescan (was a Python-loop recount
            # per written polygon, the hotspot-scene hot spot)
            np.subtract.at(
                tiles_unset,
                ((y_lo + hr) // TS, (x_lo + hc) // TS),
                1,
            )
            remaining -= nhit
            if remaining == 0:
                break  # image fully painted; all earlier polys are occluded
    img[img == UNSET] = fill
    return img


def scene_label_pairs(spark: SparkSession, scenes_sql_pred: str) -> DataFrame:
    """Candidate (scene, label) pairs whose bboxes overlap, each exactly
    once: cell_pair_join with the scenes as its a side — candidate pruning
    where the reference brute-forces every label against every raster. The
    join is a hash equi-join on cell (broadcast while the label side is
    small, shuffled+AQE-skew-split at scale), and canonical-cell dedup
    emits each pair once with no distinct shuffle.

    The cell resolution comes from the density-adaptive selector (labels
    as the density side, scenes as the extent floor — scene bboxes are the
    big geometry, so the floor keeps their cover-cell replication bounded);
    cell size is a pruning knob only, every resolution yields the same
    refined pairs (burn_histogram's oracle is the invariance proof). Both
    sides read the pulled stored tables (`stored_layer`), not their files."""
    scenes = spark.sql(
        f"SELECT scene_id, width, height, xmin, ymin, xmax, ymax FROM {{scenes}} WHERE {scenes_sql_pred}",
        scenes=stored_layer(spark, "scenes"),
    )
    labels = spark.sql(
        """
        SELECT label_id, labelclass, geom_seq, cx, cy, rx, ry,
               cx - rx AS lxmin, cy - ry AS lymin, cx + rx AS lxmax, cy + ry AS lymax
        FROM {labels}
        """,
        labels=stored_layer(spark, "labels"),
    )
    deg = adaptive_cell_deg(labels, "cx", "cy", scenes, target_per_cell=256.0)
    pairs = cell_pair_join(scenes, labels, BBOX, ("lxmin", "lymin", "lxmax", "lymax"), deg)
    return pairs.select(
        "scene_id", "width", "height", "xmin", "ymax",
        "label_id", "labelclass", "geom_seq", "cx", "cy", "rx", "ry",
    )


def burn_histogram(spark: SparkSession, sf_dir: str, fill: int = BACKGROUND) -> DataFrame:
    """(scene_id, label_class, n_px) histograms of the burned label images,
    including the background class (only when background pixels remain).
    fill selects the background value: 0 (default) or -1 — the reference's
    set_no_data mode (/root/reference/terrakit/download/
    download_data.py:369,387-388), which frees class 0 for real labels."""
    _register_views(spark, sf_dir)
    pairs = scene_label_pairs(spark, SMALL_PRED_SQL)
    scenes = stored_layer(spark, "scenes").filter(SMALL_PRED_SQL).select("scene_id", "width", "height", "xmin", "ymax")

    def burn_group(key, pdf):
        cls, cnt = np.unique(burn_scene(pdf, fill), return_counts=True)
        return pd.DataFrame(
            {"scene_id": key[0], "label_class": cls.astype(np.int32), "n_px": cnt.astype(np.int64)}
        )

    hist = pairs.groupBy("scene_id").applyInPandas(
        burn_group, schema="scene_id long, label_class int, n_px long"
    )
    untouched = scenes.join(pairs.select("scene_id").distinct(), "scene_id", "left_anti").select(
        "scene_id",
        F.lit(fill).cast("int").alias("label_class"),
        (F.col("width").cast("long") * F.col("height").cast("long")).alias("n_px"),
    )
    return hist.unionByName(untouched)


# Candidate pixels come from per-(scene, label, row) diamond bboxes — NOT a
# pixels x cell-join (hotspot cells made that quadratic: 605 s at sf0.01;
# this form runs in seconds). Winner per pixel = max-geom_seq cover
# (last-wins burn), identical to the engine's reverse-order occlusion burn.
def _burn_oracle(fill: int) -> str:
    return with_synth(
        DUCK,
        f"""
WITH sc AS (
  SELECT scene_id, width, height, xmin, ymin, xmax, ymax
  FROM scenes WHERE {SMALL_PRED_SQL}
),
prs AS (
  SELECT s.scene_id, s.width, s.height, s.xmin, s.ymax,
         l.geom_seq, l.labelclass, l.cx, l.cy, l.rx, l.ry
  FROM sc s JOIN labels l
    ON l.cx - l.rx <= s.xmax AND l.cx + l.rx >= s.xmin
   AND l.cy - l.ry <= s.ymax AND l.cy + l.ry >= s.ymin
),
cand AS (
  SELECT scene_id, xmin, ymax, labelclass, geom_seq, cx, cy, rx, ry, y,
         unnest(generate_series(xlo, xhi)) AS x
  FROM (
    SELECT *,
      greatest(CAST(floor((cx - rx - xmin) / {RES_SQL} - 5.0e-1) AS BIGINT), 0) AS xlo,
      least(CAST(ceil((cx + rx - xmin) / {RES_SQL} - 5.0e-1) AS BIGINT), CAST(width AS BIGINT) - 1) AS xhi
    FROM (
      SELECT *, unnest(generate_series(ylo, yhi)) AS y FROM (
        SELECT *,
          greatest(CAST(floor((ymax - cy - ry) / {RES_SQL} - 5.0e-1) AS BIGINT) + 1, 0) AS ylo,
          least(CAST(ceil((ymax - cy + ry) / {RES_SQL} - 5.0e-1) AS BIGINT) - 1, CAST(height AS BIGINT) - 1) AS yhi
        FROM prs) _y
      WHERE ylo <= yhi) _x
  ) _c WHERE xlo <= xhi
),
covered AS (
  SELECT scene_id, y, x, arg_max(labelclass, geom_seq) AS cls
  FROM cand
  WHERE abs((xmin + (x + 5.0e-1) * {RES_SQL}) - cx) / rx
      + abs((ymax - (y + 5.0e-1) * {RES_SQL}) - cy) / ry < 1
  GROUP BY scene_id, y, x
),
per_class AS (
  SELECT scene_id, cls, count(*) AS n_px FROM covered GROUP BY scene_id, cls
),
totals AS (
  SELECT scene_id, CAST(width AS BIGINT) * CAST(height AS BIGINT) AS total FROM sc
)
SELECT scene_id, CAST(cls AS INT) AS label_class, CAST(n_px AS BIGINT) AS n_px FROM per_class
UNION ALL
SELECT t.scene_id, {fill} AS label_class,
       CAST(t.total - coalesce(c.covered_px, 0) AS BIGINT) AS n_px
FROM totals t
LEFT JOIN (SELECT scene_id, sum(n_px) AS covered_px FROM per_class GROUP BY scene_id) c
  ON c.scene_id = t.scene_id
WHERE t.total - coalesce(c.covered_px, 0) > 0
""",
        tables=["labels", "scenes"],
    )


def _burn_histogram_nodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-class set_no_data variant: background burns as -1 instead of 0."""
    return burn_histogram(spark, sf_dir, fill=-1)


register_df("burn_histogram", burn_histogram, oracle=_burn_oracle(BACKGROUND))
register_df("burn_histogram_nodata", _burn_histogram_nodata, oracle=_burn_oracle(-1))


# ------------------------------------------------------------- zonal stats
def zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — per-(scene, label class) aggregates of band-0
    pixel values under the burned class mask: the raster x vector analytics
    primitive (per-zone mean/min/max). The reference touches this shape as
    per-class mask sums when pairing chips with labels
    (/root/reference/terrakit/chip/chip_and_label.py); here the zones are
    the exact last-wins burn (same kernel as burn_histogram), so the two
    queries share one semantics for "which class owns a pixel".

    nodata pixels (the synthetic layer's every-997th-linear-index holes)
    are excluded EVERYWHERE: n_px counts valid class pixels and a class
    with only nodata pixels emits no row. Sums are exact int64 over
    integer pixel values; the one division (mean) runs as textually
    identical rounded SQL in both engines."""
    _register_views(spark, sf_dir)
    pairs = scene_label_pairs(spark, SMALL_PRED_SQL)

    def zonal_group(key, pdf):
        from terrakit_spark.sources.raster import scene_pixels

        img = burn_scene(pdf)
        vals = scene_pixels(int(key[0]), 1, *img.shape)[0].astype(np.int64)
        valid = vals != -9999
        rows = []
        for cls in np.unique(img):
            if cls == BACKGROUND:
                continue
            m = (img == cls) & valid
            n = int(m.sum())
            if n == 0:
                continue
            v = vals[m]
            rows.append((int(key[0]), int(cls), n, int(v.sum()), int(v.min()), int(v.max())))
        return pd.DataFrame(
            rows, columns=["scene_id", "label_class", "n_px", "px_sum", "px_min", "px_max"]
        )

    partials = pairs.groupBy("scene_id").applyInPandas(
        zonal_group,
        schema="scene_id long, label_class int, n_px long, px_sum long, px_min long, px_max long",
    )
    partials.createOrReplaceTempView("_zonal_partials")
    return spark.sql(_ZONAL_FINAL_SQL)


# finalize expression shared TEXTUALLY with the oracle's tail
_ZONAL_FINAL_SQL = """
SELECT scene_id, label_class, n_px, px_sum, px_min, px_max,
       round(px_sum / n_px, 6) AS mean_v
FROM _zonal_partials
"""


def _zonal_oracle() -> str:
    from terrakit_spark.synth import NODATA_EVERY, PIXEL_BASE, PIXEL_MOD

    return with_synth(
        DUCK,
        f"""
WITH sc AS (
  SELECT scene_id, width, height, xmin, ymin, xmax, ymax
  FROM scenes WHERE {SMALL_PRED_SQL}
),
prs AS (
  SELECT s.scene_id, s.width, s.height, s.xmin, s.ymax,
         l.geom_seq, l.labelclass, l.cx, l.cy, l.rx, l.ry
  FROM sc s JOIN labels l
    ON l.cx - l.rx <= s.xmax AND l.cx + l.rx >= s.xmin
   AND l.cy - l.ry <= s.ymax AND l.cy + l.ry >= s.ymin
),
cand AS (
  SELECT scene_id, width, xmin, ymax, labelclass, geom_seq, cx, cy, rx, ry, y,
         unnest(generate_series(xlo, xhi)) AS x
  FROM (
    SELECT *,
      greatest(CAST(floor((cx - rx - xmin) / {RES_SQL} - 5.0e-1) AS BIGINT), 0) AS xlo,
      least(CAST(ceil((cx + rx - xmin) / {RES_SQL} - 5.0e-1) AS BIGINT), CAST(width AS BIGINT) - 1) AS xhi
    FROM (
      SELECT *, unnest(generate_series(ylo, yhi)) AS y FROM (
        SELECT *,
          greatest(CAST(floor((ymax - cy - ry) / {RES_SQL} - 5.0e-1) AS BIGINT) + 1, 0) AS ylo,
          least(CAST(ceil((ymax - cy + ry) / {RES_SQL} - 5.0e-1) AS BIGINT) - 1, CAST(height AS BIGINT) - 1) AS yhi
        FROM prs) _y
      WHERE ylo <= yhi) _x
  ) _c WHERE xlo <= xhi
),
covered AS (
  SELECT scene_id, width, y, x, arg_max(labelclass, geom_seq) AS cls
  FROM cand
  WHERE abs((xmin + (x + 5.0e-1) * {RES_SQL}) - cx) / rx
      + abs((ymax - (y + 5.0e-1) * {RES_SQL}) - cy) / ry < 1
  GROUP BY scene_id, width, y, x
),
vals AS (
  SELECT scene_id, cls,
         (scene_id * 7 + y * 31 + x * 17) % {PIXEL_MOD} + {PIXEL_BASE} AS v
  FROM covered
  WHERE (scene_id + y * width + x) % {NODATA_EVERY} <> 0
),
_zonal_partials AS (
  SELECT scene_id, CAST(cls AS INT) AS label_class,
         CAST(count(*) AS BIGINT) AS n_px,
         CAST(sum(v) AS BIGINT) AS px_sum,
         CAST(min(v) AS BIGINT) AS px_min,
         CAST(max(v) AS BIGINT) AS px_max
  FROM vals GROUP BY scene_id, cls
)
{_ZONAL_FINAL_SQL}
""",
        tables=["labels", "scenes"],
    )


register_df("zonal_stats", zonal_stats, oracle=_zonal_oracle())
