"""Polygon x polygon overlap join: exact-pair parity against a brute-force
numpy SAT over the collected layer, dedup exactness (each pair once), and
generic-convex behavior on ragged vertex counts."""

from __future__ import annotations

import numpy as np

from terrakit_spark.functions.geometry import sat_depth
from terrakit_spark.registry import QUERIES


def test_overlap_join_matches_brute_force(synth, spark, sf_dir):
    from terrakit_spark.catalog import _register_views
    from terrakit_spark.operators.spatial_join import OVERLAP_EPS, _diamond_polys

    _register_views(spark, sf_dir)
    rows = _diamond_polys(spark).select("label_id", "vertices").collect()
    ids = np.array([r.label_id for r in rows])
    verts = np.array([r.vertices for r in rows], dtype=np.float64).reshape(len(rows), -1, 2)
    ev, od = ids % 2 == 0, ids % 2 == 1
    expected = set()
    vb, ib = verts[od], ids[od]
    for i in np.flatnonzero(ev):
        d = sat_depth(np.broadcast_to(verts[i], vb.shape).copy(), vb)
        for j in np.flatnonzero(d > OVERLAP_EPS):
            expected.add((int(ids[i]), int(ib[j])))

    got = QUERIES["polygon_overlap_join"](spark, sf_dir).collect()
    pairs = [(r.label_a, r.label_b) for r in got]
    assert len(pairs) == len(set(pairs)), "canonical-cell dedup emitted a pair twice"
    assert set(pairs) == expected


def test_overlap_join_generic_convex_ragged(spark):
    """Triangle/hexagon/quad mix — the operator is generic convex, not a
    diamond special case, and ragged batches pad without changing verdicts."""
    from terrakit_spark.operators.spatial_join import convex_overlap_join

    def poly(pid, pts):
        xs, ys = [p[0] for p in pts], [p[1] for p in pts]
        return (pid, float(min(xs)), float(min(ys)), float(max(xs)), float(max(ys)),
                [float(v) for p in pts for v in p])

    tri = poly(1, [(0, 0), (2, 0), (1, 2)])
    hexa = poly(2, [(3, 0), (4, -1), (5, 0), (5, 1), (4, 2), (3, 1)])
    far_quad = poly(3, [(50, 50), (51, 50), (51, 51), (50, 51)])
    # sits inside the triangle's lower half
    probe_tri = poly(10, [(0.5, 0.2), (1.5, 0.2), (1.5, 1.0), (0.5, 1.0)])
    # bbox overlaps the hexagon's bbox at its cut corner, but the shapes are
    # disjoint — only the SAT refine (not the bbox filter) rejects this pair
    probe_hex = poly(11, [(2.8, -1.2), (3.3, -1.2), (3.3, -0.9), (2.8, -0.9)])
    cols = ["pid", "xmin", "ymin", "xmax", "ymax", "vertices"]
    a = spark.createDataFrame([tri, hexa, far_quad], cols)
    b = spark.createDataFrame([probe_tri, probe_hex], cols)
    got = {(r.pid, r.pid_b) for r in convex_overlap_join(a, b).select("pid", "pid_b").collect()}
    assert got == {(1, 10)}


def test_tile_label_coverage_matches_numpy(synth, spark, sf_dir):
    """Exact-parity oracle in numpy: rebuild the %25 window grid and clip
    every (tile, diamond) pair with the GENERIC clip kernel driven
    row-at-a-time (independent of the rect-specialized kernel and the
    contained fast path the query uses), round to the same integer
    micro-deg^2 unit, and compare counts and integer sums exactly."""
    from terrakit_spark.functions.geometry import clip_area
    from terrakit_spark.catalog import _register_views
    from terrakit_spark.operators.spatial_join import _diamond_polys

    _register_views(spark, sf_dir)
    scenes = spark.sql(
        "SELECT scene_id, width, height, xmin, ymin FROM scenes WHERE scene_id % 25 = 0"
    ).collect()
    labels = _diamond_polys(spark).select("label_id", "vertices").collect()
    lv = np.array([r.vertices for r in labels], dtype=np.float64).reshape(len(labels), -1, 2)
    RES, C = 2.0**-7, 256
    expected = {}
    four = np.full(len(lv), 4, dtype=np.int64)
    for s in scenes:
        nx = (s.width - 1) // C + 1
        ny = (s.height - 1) // C + 1
        for xi in range(nx):
            for yi in range(ny):
                wx = min(xi * C, s.width - C)
                wy = min(yi * C, s.height - C)
                x0, y0 = s.xmin + wx * RES, s.ymin + wy * RES
                rect = np.array([[x0, y0], [x0 + 2, y0], [x0 + 2, y0 + 2], [x0, y0 + 2]])
                rects = np.broadcast_to(rect, (len(lv), 4, 2)).copy()
                areas = clip_area(lv.copy(), four, rects, four)
                au = np.floor(areas * 1e6 + 0.5).astype(np.int64)  # HALF_UP
                hit = au > 0
                if hit.any():
                    expected[(s.scene_id, xi * ny + yi)] = (int(hit.sum()), int(au[hit].sum()))

    got = {(r.scene_id, r.win_index): (r.n_labels, r.label_area, r.coverage)
           for r in QUERIES["tile_label_coverage"](spark, sf_dir).collect()}
    assert set(got) == set(expected)
    for key, (n, au_sum) in expected.items():
        gn, ga, gc = got[key]
        assert gn == n
        assert round(ga * 1e6) == au_sum
        assert gc == au_sum / 4e6


def test_clip_area_rect_matches_generic():
    """The rect-specialized kernel must agree with the generic S-H kernel
    on random convex subjects x random rects (including disjoint, contained
    and crossing cases) to float tolerance."""
    from terrakit_spark.functions.geometry import clip_area, clip_area_rect

    rng = np.random.default_rng(7)
    B = 512
    # random diamonds (convex quads) + some triangles via padding
    cx, cy = rng.uniform(-5, 5, B), rng.uniform(-5, 5, B)
    rx, ry = rng.uniform(0.1, 3, B), rng.uniform(0.1, 3, B)
    subj = np.stack(
        [np.stack([cx - rx, cy], 1), np.stack([cx, cy - ry], 1),
         np.stack([cx + rx, cy], 1), np.stack([cx, cy + ry], 1)], axis=1
    )
    ns = np.full(B, 4, dtype=np.int64)
    x0 = rng.uniform(-6, 4, B)
    y0 = rng.uniform(-6, 4, B)
    x1 = x0 + rng.uniform(0.1, 6, B)
    y1 = y0 + rng.uniform(0.1, 6, B)
    rects = np.stack(
        [np.stack([x0, y0], 1), np.stack([x1, y0], 1),
         np.stack([x1, y1], 1), np.stack([x0, y1], 1)], axis=1
    )
    generic = clip_area(subj.copy(), ns, rects, np.full(B, 4, dtype=np.int64))
    fast = clip_area_rect(subj.copy(), ns, x0, y0, x1, y1)
    assert np.allclose(generic, fast, atol=1e-12)
    assert (fast > 0).any() and (fast == 0).any()  # both case classes hit


def test_polygon_area_shoelace():
    from terrakit_spark.functions.geometry import _shoelace

    # unit square, CCW and CW
    sq = np.array([[[0, 0], [1, 0], [1, 1], [0, 1]]], dtype=np.float64)
    pos = np.arange(4)[None, :]
    assert _shoelace(sq[..., 0].copy(), sq[..., 1].copy(), np.array([4]), pos)[0] == 1.0
    rev = sq[:, ::-1, :]
    assert _shoelace(rev[..., 0].copy(), rev[..., 1].copy(), np.array([4]), pos)[0] == 1.0


def test_clip_area_ragged_clipper_and_subject():
    """Mixed vertex counts on BOTH sides of the clip (the (e+1) % nc
    wrap-around edge of a padded clipper is the easy one to break)."""
    from terrakit_spark.functions.geometry import clip_area

    sq = lambda cx, cy, r: np.array([[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r], [cx - r, cy + r]])
    tri = np.array([[0, 0], [2, 0], [1, 2]], float)

    def batch(polys):
        L = max(len(p) for p in polys)
        out = np.stack([np.vstack([p, np.repeat(p[-1:], L - len(p), axis=0)]) for p in polys])
        return out.astype(float), np.array([len(p) for p in polys], dtype=np.int64)

    subs, ns = batch([sq(0, 0, 2), tri, sq(0, 0, 2)])
    clips, nc = batch([tri, sq(0, 0, 2), sq(5, 5, 1)])
    got = clip_area(subs, ns, clips, nc)
    assert np.allclose(got, [2.0, 2.0, 0.0])  # tri inside big square both ways; disjoint 0
