"""S2 — raster polygonize: burned label rasters back to vector components
(the reference polygonizes raster label files with rasterio.features.shapes
and keeps shapes with value == label_value,
/root/reference/terrakit/transform/labels.py:167-196).

Spark shape: per-scene Arrow batch UDF running a vectorized numpy
connected-components labelling (4-connectivity, min-label flooding) over
the burned image; emits one row per component with class, pixel count,
bbox, boundary perimeter and ring vertex count, and (with_rings=True) the
traced boundary rings themselves — exterior + holes as pixel-corner vertex
lists, the rasterio.features.shapes analogue. F1 (value filter) is the
WHERE on label_class. All scalar outputs are pinned by a DuckDB value
oracle (run-graph connected components + per-vertex corner counting)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.operators.chips import SMALL_PRED_SQL
from terrakit_spark.operators.rasterize import burn_image


def connected_components(img: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected labelling of nonzero same-value regions (no scipy, no
    per-pixel Python). Returns (component ids 1..n, count); 0 = background.

    Round-3 rewrite (closing the round-2 watch item): the old min-label
    flooding took O(component diameter) full-image passes — fine for
    convex diamonds, pathological for spirals. This version works on the
    RUN graph (the same reduction the DuckDB polygonize oracle uses):

    1. per-row constant-value runs, extracted vectorized (boundary diff);
    2. adjacency edges between vertically overlapping same-value runs of
       consecutive rows, found with searchsorted interval ranges — O(runs
       + edges), no per-pixel work;
    3. min-label propagation with POINTER JUMPING over the run graph:
       each round scatters edge minima (np.minimum.at) then compresses
       labels (lbl = lbl[lbl] to fixpoint) — O(log runs) rounds whatever
       the pixel-space diameter.

    Labels resolve to the component's minimum run-start linear index ==
    its minimum pixel linear index, so the final np.unique numbering is
    IDENTICAL to the old flooding implementation (oracle parity keeps)."""
    h, w = img.shape
    fg = img != 0
    out = np.zeros((h, w), dtype=np.int64)
    if not fg.any():
        return out, 0
    flat = img.ravel()
    fgf = fg.ravel()
    # run starts: fg cell that is row-first, or differs from predecessor
    idx = np.arange(h * w, dtype=np.int64)
    prev_same = np.zeros(h * w, dtype=bool)
    prev_same[1:] = fgf[1:] & fgf[:-1] & (flat[1:] == flat[:-1]) & (idx[1:] % w != 0)
    starts = np.nonzero(fgf & ~prev_same)[0]
    # run ends: next boundary
    run_of = np.cumsum(fgf & ~prev_same) - 1  # per-cell run index (valid on fg)
    run_last = np.zeros(len(starts), dtype=np.int64)
    np.maximum.at(run_last, run_of[fgf], idx[fgf])
    ya, xa = starts // w, starts % w
    xb = run_last % w
    val = flat[starts]

    # adjacency: for each run r in row y, the runs in row y-1 overlapping
    # [xa[r], xb[r]] form a contiguous slice of that row's (sorted) runs
    lbl = starts.copy()  # label = min run-start linear index
    R = len(starts)
    row_first = np.searchsorted(ya, np.arange(h + 1))
    e_a, e_b = [], []
    for y in range(1, h):
        lo0, hi0 = row_first[y - 1], row_first[y]
        lo1, hi1 = row_first[y], row_first[y + 1]
        if lo0 == hi0 or lo1 == hi1:
            continue
        up_xa, up_xb = xa[lo0:hi0], xb[lo0:hi0]
        cur_xa, cur_xb = xa[lo1:hi1], xb[lo1:hi1]
        first = np.searchsorted(up_xb, cur_xa)  # first upper run with xb >= xa'
        last = np.searchsorted(up_xa, cur_xb, side="right")  # past-last with xa <= xb'
        cnt = np.maximum(last - first, 0)
        if cnt.sum() == 0:
            continue
        rcur = np.repeat(np.arange(lo1, hi1), cnt)
        offs = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        rup = lo0 + np.repeat(first, cnt) + offs
        same = val[rcur] == val[rup]
        e_a.append(rcur[same])
        e_b.append(rup[same])
    if e_a:
        ea = np.concatenate(e_a)
        eb = np.concatenate(e_b)
        # pointer-jumping min propagation: O(log R) rounds
        while True:
            la, lb = lbl[ea], lbl[eb]
            m = np.minimum(la, lb)
            before = lbl.copy()
            np.minimum.at(lbl, ea, m)
            np.minimum.at(lbl, eb, m)
            # compress: labels are run-start indices; map to run ids
            rid = run_of[lbl]  # run id owning that start
            lbl = np.minimum(lbl, lbl[rid])
            while True:
                nxt = lbl[run_of[lbl]]
                if np.array_equal(nxt, lbl):
                    break
                lbl = nxt
            if np.array_equal(before, lbl):
                break
    # paint pixels with their run's resolved label, then dense-number
    px_lbl = lbl[run_of[fgf]]
    uniq, inv = np.unique(px_lbl, return_inverse=True)
    out_flat = out.ravel()
    out_flat[fgf] = inv + 1
    return out, len(uniq)


def boundary_stats(mask: np.ndarray) -> tuple[int, int]:
    """(perimeter, n_vertices) of the pixel-edge boundary of a 0/1 mask —
    ALL rings (exterior + holes), vectorized:

    - perimeter = exposed pixel-edge count = 4*n_px - 2*adjacent pairs.
    - n_vertices = boundary direction changes, counted per pixel-grid
      vertex from its 2x2 neighbourhood: an odd pixel count (1 or 3) is one
      corner; a diagonal pair (both diagonals inside, others out, or vice
      versa) is two corners (two rings touch at the vertex); everything
      else is straight or interior.
    """
    m = mask.astype(bool)
    n_px = int(m.sum())
    h_adj = int((m[:, 1:] & m[:, :-1]).sum())
    v_adj = int((m[1:] & m[:-1]).sum())
    perimeter = 4 * n_px - 2 * (h_adj + v_adj)
    p = np.pad(m, 1)
    a, b = p[:-1, :-1], p[:-1, 1:]
    c, d = p[1:, :-1], p[1:, 1:]
    s = a.astype(np.int8) + b + c + d
    diag = (s == 2) & (a == d) & (a != b)
    n_vertices = int(((s == 1) | (s == 3)).sum()) + 2 * int(diag.sum())
    return perimeter, n_vertices


# directions: 0=right(+x) 1=down(+y) 2=left(-x) 3=up(-y); y grows downward
_DIR = {0: (1, 0), 1: (0, 1), 2: (-1, 0), 3: (0, -1)}


def boundary_edges(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exposed pixel edges of a 0/1 mask, fully vectorized: returns
    (starts (n, 2) corner coords, dirs (n,)). Edges are oriented so each
    pixel's own boundary is walked clockwise-on-screen (y down): top edge
    ->right, right edge ->down, bottom ->left, left ->up."""
    m = mask.astype(bool)
    p = np.pad(m, 1)
    starts_l, dirs_l = [], []

    def _emit(ys, xs, d, off):
        starts_l.append(np.stack([xs + off[0], ys + off[1]], axis=1))
        dirs_l.append(np.full(len(ys), d, dtype=np.int64))

    ys, xs = np.nonzero(m & ~p[:-2, 1:-1])  # top exposed
    _emit(ys, xs, 0, (0, 0))
    ys, xs = np.nonzero(m & ~p[1:-1, 2:])  # right exposed
    _emit(ys, xs, 1, (1, 0))
    ys, xs = np.nonzero(m & ~p[2:, 1:-1])  # bottom exposed
    _emit(ys, xs, 2, (1, 1))
    ys, xs = np.nonzero(m & ~p[1:-1, :-2])  # left exposed
    _emit(ys, xs, 3, (0, 1))
    return np.concatenate(starts_l), np.concatenate(dirs_l)


def trace_rings(mask: np.ndarray) -> list[list[tuple[int, int]]]:
    """Boundary rings of a 0/1 mask as pixel-corner vertex lists — the
    rasterio.features.shapes analogue
    (/root/reference/terrakit/transform/labels.py:167-196): exterior rings
    clockwise-on-screen (y down), holes counter-clockwise, collinear points
    collapsed, ring implicitly closed (first vertex not repeated).

    Vectorized stitch (the round-2 dict-walk replaced, round-2 verdict
    item 8): every edge's successor is computed in one numpy pass — sort
    edges by start-vertex id, searchsorted each edge's END vertex into
    that order, and where a vertex has two outgoing edges (rings touching
    at a corner) pick the rightmost turn ((dir_out - dir_in) mod 4
    argmin), which keeps corner-touching loops separate. The successor
    table is a permutation by construction (at a diagonal-touch vertex the
    two incoming directions prefer DIFFERENT outgoing edges), so ring
    extraction is a flat permutation walk over preallocated int arrays;
    per-ring vertex selection (collapse collinear runs) is numpy again.
    ~20x faster than the per-edge dict walk on large components; the old
    implementation survives as the differential reference in
    tests/test_validate_polygonize.py."""
    m = mask.astype(bool)
    h, w = m.shape
    starts, dirs = boundary_edges(m)
    n = len(dirs)
    if n == 0:
        return []
    step = np.array([_DIR[d] for d in range(4)], dtype=np.int64)
    ends = starts + step[dirs]
    stride = w + 2
    svid = starts[:, 1] * stride + starts[:, 0]
    evid = ends[:, 1] * stride + ends[:, 0]
    order = np.argsort(svid, kind="stable")
    ssort = svid[order]
    lo = np.searchsorted(ssort, evid, side="left")
    hi = np.searchsorted(ssort, evid, side="right")
    cand0 = order[lo]
    cand1 = order[np.minimum(lo + 1, n - 1)]
    turn0 = (dirs[cand0] - dirs) % 4
    turn1 = (dirs[cand1] - dirs) % 4
    succ = np.where((hi - lo > 1) & (turn1 < turn0), cand1, cand0)

    succ_list = succ.tolist()
    visited = np.zeros(n, dtype=bool)
    rings: list[list[tuple[int, int]]] = []
    for s0 in range(n):
        if visited[s0]:
            continue
        seq = []
        e = s0
        while not visited[e]:
            visited[e] = True
            seq.append(e)
            e = succ_list[e]
        idx = np.asarray(seq, dtype=np.int64)
        dd = dirs[idx]
        keep = dd != np.roll(dd, 1)  # direction change vs incoming edge
        pts = starts[idx][keep]
        ring = [tuple(pt) for pt in pts.tolist()]
        rings.append(ring if ring else [tuple(starts[idx[0]].tolist())])
    return rings


def polygonize_components(
    spark: SparkSession, sf_dir: str, label_value: int | None = None, with_rings: bool = False
) -> DataFrame:
    """Burn small scenes, then polygonize: one row per connected component
    (scene_id, label_class, n_px, pixel bbox, perimeter, ring vertex count;
    with_rings=True adds the traced rings as array<array<array<int>>>)."""
    _register_views(spark, sf_dir)
    from terrakit_spark.operators.rasterize import scene_label_pairs

    pairs = scene_label_pairs(spark, SMALL_PRED_SQL)
    base_cols = [
        "scene_id", "component", "label_class", "n_px",
        "px_xmin", "px_ymin", "px_xmax", "px_ymax", "perimeter", "n_vertices",
    ]
    schema = (
        "scene_id long, component int, label_class int, n_px long, "
        "px_xmin int, px_ymin int, px_xmax int, px_ymax int, perimeter long, n_vertices int"
    )
    if with_rings:
        schema += ", rings array<array<array<int>>>"

    def poly_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("geom_seq")
        w, h = int(pdf["width"].iloc[0]), int(pdf["height"].iloc[0])
        polys = [
            np.array([[cx - rx, cy], [cx, cy - ry], [cx + rx, cy], [cx, cy + ry]], dtype=np.float64)
            for cx, cy, rx, ry in zip(pdf["cx"], pdf["cy"], pdf["rx"], pdf["ry"])
        ]
        img = burn_image(w, h, float(pdf["xmin"].iloc[0]), float(pdf["ymax"].iloc[0]), polys, list(pdf["labelclass"]))
        comp, n = connected_components(img)
        rows = []
        for cid in range(1, n + 1):
            m = comp == cid
            ys, xs = np.nonzero(m)
            cls = int(img[ys[0], xs[0]])
            perim, n_vert = boundary_stats(m)
            row = [
                key[0], cid, cls, int(m.sum()),
                int(xs.min()), int(ys.min()), int(xs.max()), int(ys.max()), perim, n_vert,
            ]
            if with_rings:
                row.append([[[int(x), int(y)] for x, y in ring] for ring in trace_rings(m)])
            rows.append(tuple(row))
        cols = base_cols + (["rings"] if with_rings else [])
        return pd.DataFrame(rows, columns=cols)

    out = pairs.groupBy("scene_id").applyInPandas(poly_group, schema=schema)
    if label_value is not None:
        out = out.filter(F.col("label_class") == label_value)  # F1
    return out


def _polygonize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return polygonize_components(spark, sf_dir)


def _polygonize_oracle() -> str:
    """DuckDB value oracle for raster_polygonize (small scenes):

    - pixel class = labelclass of the max-geom_seq covering diamond
      (burn order: later shapes overwrite earlier);
    - connected components over the RUN graph (per-row constant-value runs,
      4-adjacent same-value runs merge) via recursive min-label closure —
      runs keep the closure quadratic in runs-per-component, not pixels;
    - component numbering = dense_rank of min pixel linear index, matching
      connected_components' np.unique order;
    - perimeter = 4*n_px - 2*(horizontal + vertical adjacent pairs);
    - n_vertices via the same 2x2 grid-vertex corner formula as
      boundary_stats (odd count = 1 corner, diagonal pair = 2).

    rk/sym are MATERIALIZED: without the hint DuckDB re-evaluates the
    recursive CTE's inputs (including the 65M-row pixel aggregation) on
    every iteration -- 10+ minutes instead of ~18 s at sf0.01.
    """
    from terrakit_spark.synth import ALL_TABLES

    synth = f"labels AS ({ALL_TABLES['labels'](DUCK)}), scenes AS ({ALL_TABLES['scenes'](DUCK)})"
    return f"""
WITH RECURSIVE {synth},
sc AS (
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
      greatest(CAST(floor((cx - rx - xmin) / 7.8125e-3 - 5.0e-1) AS BIGINT), 0) AS xlo,
      least(CAST(ceil((cx + rx - xmin) / 7.8125e-3 - 5.0e-1) AS BIGINT), CAST(width AS BIGINT) - 1) AS xhi
    FROM (
      SELECT *, unnest(generate_series(ylo, yhi)) AS y FROM (
        SELECT *,
          greatest(CAST(floor((ymax - cy - ry) / 7.8125e-3 - 5.0e-1) AS BIGINT) + 1, 0) AS ylo,
          least(CAST(ceil((ymax - cy + ry) / 7.8125e-3 - 5.0e-1) AS BIGINT) - 1, CAST(height AS BIGINT) - 1) AS yhi
        FROM prs) _y
      WHERE ylo <= yhi) _x
  ) _c WHERE xlo <= xhi
),
px AS (
  SELECT scene_id, width, y, x, arg_max(labelclass, geom_seq) AS val
  FROM cand
  WHERE abs((xmin + (x + 5.0e-1) * 7.8125e-3) - cx) / rx
      + abs((ymax - (y + 5.0e-1) * 7.8125e-3) - cy) / ry < 1
  GROUP BY scene_id, width, y, x
),
runs AS (
  SELECT scene_id, width, val, y, min(x) AS xa, max(x) AS xb
  FROM (SELECT *, x - row_number() OVER (PARTITION BY scene_id, y, val ORDER BY x) AS grp FROM px) _r
  GROUP BY scene_id, width, val, y, grp
),
rk AS MATERIALIZED (SELECT *, y * width + xa AS k FROM runs),
ed AS (
  SELECT a.scene_id, a.k AS ka, b.k AS kb
  FROM rk a JOIN rk b
    ON b.scene_id = a.scene_id AND b.val = a.val AND b.y = a.y + 1
   AND b.xa <= a.xb AND b.xb >= a.xa
),
sym AS MATERIALIZED (SELECT scene_id, ka, kb FROM ed UNION SELECT scene_id, kb, ka FROM ed),
reach(scene_id, k, lbl) AS (
  SELECT scene_id, k, k FROM rk
  UNION
  SELECT s.scene_id, s.kb, r.lbl FROM reach r JOIN sym s ON s.scene_id = r.scene_id AND s.ka = r.k
),
comp AS (SELECT scene_id, k, min(lbl) AS rep FROM reach GROUP BY scene_id, k),
reps AS (
  SELECT scene_id, rep,
         dense_rank() OVER (PARTITION BY scene_id ORDER BY rep) AS component
  FROM (SELECT DISTINCT scene_id, rep FROM comp) _d
),
rc AS (
  SELECT r.scene_id, c.rep, r.val, r.y, r.xa, r.xb
  FROM rk r JOIN comp c ON c.scene_id = r.scene_id AND c.k = r.k
),
aggs AS (
  SELECT scene_id, rep, min(val) AS label_class,
         sum(xb - xa + 1) AS n_px,
         min(xa) AS px_xmin, min(y) AS px_ymin, max(xb) AS px_xmax, max(y) AS px_ymax,
         sum(xb - xa) AS h_adj
  FROM rc GROUP BY scene_id, rep
),
vadj AS (
  SELECT a.scene_id, a.rep, sum(least(a.xb, b.xb) - greatest(a.xa, b.xa) + 1) AS v_adj
  FROM rc a JOIN rc b
    ON b.scene_id = a.scene_id AND b.rep = a.rep AND b.y = a.y + 1
   AND b.xa <= a.xb AND b.xb >= a.xa
  GROUP BY a.scene_id, a.rep
),
pxc AS (
  SELECT r.scene_id, r.rep, p.y, p.x
  FROM px p JOIN rc r
    ON r.scene_id = p.scene_id AND r.y = p.y AND r.val = p.val
   AND p.x >= r.xa AND p.x <= r.xb
),
vbits AS (
  SELECT scene_id, rep, vx, vy, sum(bit) AS pattern, count(*) AS cnt
  FROM (
    SELECT scene_id, rep, x AS vx, y AS vy, 8 AS bit FROM pxc
    UNION ALL SELECT scene_id, rep, x + 1, y, 4 FROM pxc
    UNION ALL SELECT scene_id, rep, x, y + 1, 2 FROM pxc
    UNION ALL SELECT scene_id, rep, x + 1, y + 1, 1 FROM pxc
  ) _v GROUP BY scene_id, rep, vx, vy
),
verts AS (
  SELECT scene_id, rep,
         sum(CASE WHEN cnt = 1 OR cnt = 3 THEN 1
                  WHEN cnt = 2 AND (pattern = 9 OR pattern = 6) THEN 2
                  ELSE 0 END) AS n_vertices
  FROM vbits GROUP BY scene_id, rep
)
SELECT a.scene_id,
       CAST(r.component AS INT) AS component,
       CAST(a.label_class AS INT) AS label_class,
       CAST(a.n_px AS BIGINT) AS n_px,
       CAST(a.px_xmin AS INT) AS px_xmin,
       CAST(a.px_ymin AS INT) AS px_ymin,
       CAST(a.px_xmax AS INT) AS px_xmax,
       CAST(a.px_ymax AS INT) AS px_ymax,
       CAST(4 * a.n_px - 2 * (a.h_adj + coalesce(v.v_adj, 0)) AS BIGINT) AS perimeter,
       CAST(vt.n_vertices AS INT) AS n_vertices
FROM aggs a
JOIN reps r ON r.scene_id = a.scene_id AND r.rep = a.rep
LEFT JOIN vadj v ON v.scene_id = a.scene_id AND v.rep = a.rep
JOIN verts vt ON vt.scene_id = a.scene_id AND vt.rep = a.rep
"""


from terrakit_spark.dialect import DUCK  # noqa: E402
from terrakit_spark.registry import register_df  # noqa: E402

register_df("raster_polygonize", _polygonize_query, oracle=_polygonize_oracle())
