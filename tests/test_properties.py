"""Property-based tests (hypothesis) for the pure numpy kernels and the
cell-pair candidate join — the reference has no property testing
(SURVEY §5); these pin the geometry, tiling and join invariants under
randomized inputs."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from terrakit_spark.functions.geometry import ray_cast
from terrakit_spark.functions.raster_kernels import impute_nodata_nearest
from terrakit_spark.operators.polygonize import connected_components
from terrakit_spark.operators.spatial_join import _salt_fan, cell_pair_join
from terrakit_spark.pipeline import _windows
from terrakit_spark.synth import CHIP


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 2000), st.integers(1, 2000))
def test_window_grid_properties(w, h):
    wins = _windows(w, h)
    n_x = (w - 1) // CHIP + 1
    n_y = (h - 1) // CHIP + 1
    assert len(wins) == n_x * n_y
    # indices are 0..n-1 in x-major order
    assert [i for i, _, _ in wins] == list(range(len(wins)))
    # clamped starts: every window's [start, start+CHIP) covers up to the
    # raster edge; union of clipped windows covers every pixel
    covered_x = set()
    covered_y = set()
    for _, x, y in wins:
        assert x + CHIP >= min(w, CHIP) and y + CHIP >= min(h, CHIP)
        covered_x.update(range(max(x, 0), min(x + CHIP, w)))
        covered_y.update(range(max(y, 0), min(y + CHIP, h)))
    assert covered_x == set(range(w)) and covered_y == set(range(h))


@settings(max_examples=100, deadline=None)
@given(
    st.floats(-10, 10),
    st.floats(-10, 10),
    st.floats(0.1, 3.0),
    st.floats(0.1, 3.0),
    st.integers(0, 10**6),
)
def test_ray_cast_matches_diamond_closed_form(cx, cy, rx, ry, seed):
    rng = np.random.RandomState(seed % 2**31)
    poly = np.array([[cx - rx, cy], [cx, cy - ry], [cx + rx, cy], [cx, cy + ry]])
    px = cx + (rng.rand(200) - 0.5) * 4 * rx
    py = cy + (rng.rand(200) - 0.5) * 4 * ry
    closed = np.abs(px - cx) / rx + np.abs(py - cy) / ry
    # exclude numerically-on-boundary points
    keep = np.abs(closed - 1.0) > 1e-9
    got = ray_cast(px[keep], py[keep], np.broadcast_to(poly, (int(keep.sum()), 4, 2)))
    assert (got == (closed[keep] < 1.0)).all()


def _cc_oracle(img):
    """BFS 4-connectivity oracle."""
    h, w = img.shape
    seen = np.zeros_like(img, dtype=bool)
    n = 0
    for y in range(h):
        for x in range(w):
            if img[y, x] == 0 or seen[y, x]:
                continue
            n += 1
            stack = [(y, x)]
            seen[y, x] = True
            while stack:
                cy_, cx_ = stack.pop()
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    ny, nx = cy_ + dy, cx_ + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and img[ny, nx] == img[cy_, cx_]:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
    return n


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 10**6), st.integers(2, 12), st.integers(2, 12), st.integers(1, 3))
def test_connected_components_matches_bfs(seed, h, w, n_classes):
    rng = np.random.RandomState(seed % 2**31)
    img = rng.randint(0, n_classes + 1, size=(h, w)).astype(np.int32)
    comp, n = connected_components(img)
    assert n == _cc_oracle(img)
    # component ids partition the foreground
    assert ((comp > 0) == (img != 0)).all()


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 10**6), st.integers(2, 16), st.integers(2, 16))
def test_impute_properties(seed, h, w):
    rng = np.random.RandomState(seed % 2**31)
    band = rng.randint(500, 11000, size=(h, w)).astype(np.float32)
    holes = rng.rand(h, w) < 0.3
    if holes.all():
        holes[0, 0] = False
    band[holes] = -9999.0
    out = impute_nodata_nearest(band)
    assert not (out == -9999.0).any()
    # non-hole pixels unchanged
    assert (out[~holes] == band[~holes]).all()
    # filled values come from the original value set
    assert np.isin(out[holes], band[~holes]).all()


def test_star_cc_matches_hashmin_and_handles_chains(synth, spark, sf_dir):
    """The O(log n) large-star/small-star CC must agree with the hash-min
    path on the real dedup graph, and collapse an adversarial 64-node path
    graph (diameter 63) where hash-min would need 63 rounds."""
    from terrakit_spark.operators.dedup import dedup_clusters, dedup_clusters_star, star_connected_components

    a = sorted(tuple(r) for r in dedup_clusters(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in dedup_clusters_star(spark, sf_dir).collect())
    assert a == b and a

    chain = spark.createDataFrame([(i, i + 1) for i in range(63)], "d1 long, d2 long")
    out = star_connected_components(spark, chain, max_rounds=10)
    rows = out.collect()
    assert len(rows) == 64
    assert {r.cluster_id for r in rows} == {0}
    assert sum(r.is_keeper for r in rows) == 1


def test_star_cc_logarithmic_rounds_on_long_chain(synth, spark, sf_dir):
    """Empirical O(log n) evidence: a 512-node path (diameter 511, where
    hash-min needs 511 rounds) must converge within ~2*log2(512) star
    rounds — max_rounds=22 would RAISE (the round-3 non-convergence guard)
    if the bound were not logarithmic."""
    from terrakit_spark.operators.dedup import star_connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(511)], "d1 long, d2 long")
    rows = star_connected_components(spark, chain, max_rounds=22).collect()
    assert len(rows) == 512
    assert {r.cluster_id for r in rows} == {0}
    assert sum(r.is_keeper for r in rows) == 1


def test_sat_depth_and_clip_area_agree_on_random_convex_pairs():
    """Cross-kernel invariant: for random convex polygon pairs, positive
    SAT depth <=> positive clip area (away from tangency both kernels must
    agree on the overlap verdict; they share no code path)."""
    import numpy as np

    from terrakit_spark.functions.geometry import clip_area, sat_depth

    rng = np.random.default_rng(7)
    B = 4000
    # random convex polygons: affine images of regular n-gons (convex by
    # construction — sorted-angle random-radius "polygons" are only
    # star-shaped, which breaks both kernels' convexity contract)
    def convex(n_pts, center, scale):
        th = np.arange(n_pts) * 2 * np.pi / n_pts + rng.uniform(0, 2 * np.pi, (B, 1))
        unit = np.stack([np.cos(th), np.sin(th)], axis=-1)  # (B, n, 2) CCW
        M = rng.uniform(-1.0, 1.0, (B, 2, 2))
        M[:, 0, 0] += 2.0
        M[:, 1, 1] += 2.0  # diagonally dominant -> det > 0, orientation kept
        warped = np.einsum("bnd,bde->bne", unit, M) * scale
        return warped + center[:, None, :]

    ca = rng.uniform(-3, 3, (B, 2))
    cb = ca + rng.uniform(-2.5, 2.5, (B, 2))
    A = convex(5, ca, 1.0)
    C = convex(4, cb, 1.2)
    depth = sat_depth(A.copy(), C.copy())
    area = clip_area(A, np.full(B, 5), C, np.full(B, 4))
    clear = np.abs(depth) > 1e-9  # skip knife-edge tangencies
    assert clear.sum() > B * 0.99
    assert np.array_equal(depth[clear] > 0, area[clear] > 0)
    # and containment sanity: when one polygon contains the other entirely,
    # the clip area equals the smaller polygon's area
    def shoelace(P):
        x, y = P[..., 0], P[..., 1]
        return 0.5 * np.abs((x * np.roll(y, -1, 1) - np.roll(x, -1, 1) * y).sum(1))

    tiny = convex(4, ca, 0.05)
    big = convex(6, ca, 3.0)
    # a 0.05-scale polygon at the same center sits inside the 3.0-scale one
    # whenever the big polygon's inradius there exceeds ~0.05; just assert
    # area(clip) <= area(tiny) + eps and almost always equal
    a_t = shoelace(tiny)
    a_clip = clip_area(tiny, np.full(B, 4), big, np.full(B, 6))
    assert (a_clip <= a_t + 1e-12).all()
    assert (np.abs(a_clip - a_t) < 1e-12).mean() > 0.9


# --------------------------------------------------------- cell_pair_join
_A_BOX = ("ax0", "ay0", "ax1", "ay1")
_B_BOX = ("bx0", "by0", "bx1", "by1")


@st.composite
def _box_layers(draw):
    """(cell_deg, n_salts, points, a rows, b rows): two small box layers on a
    lattice of quarter cells, so edges land on cell lines as often as not.
    Both layers sit in one 4 x 4-cell window whose anchor may touch
    ±180/±90; a side may be empty, may lie inside the window's first cell,
    and may carry a planted hotspot (one box repeated). With points, the a
    side is its boxes' lower-left corners."""
    cell = draw(st.sampled_from([1.0 / 256, 1.0 / 8, 1.0]))
    n_salts = draw(st.sampled_from([0, 2, 8]))
    nx, ny = int(round(360 / cell)), int(round(180 / cell))
    cx = draw(st.integers(0, nx - 4) | st.sampled_from([0, nx - 4]))
    cy = draw(st.integers(0, ny - 4) | st.sampled_from([0, ny - 4]))
    q = cell / 4

    def layer(first_id):
        span = 3 if draw(st.booleans()) else 16  # inside one cell, or across the window
        boxes = []
        for _ in range(draw(st.integers(0, 8))):
            x0, y0 = draw(st.integers(0, span)), draw(st.integers(0, span))
            x1, y1 = draw(st.integers(x0, span)), draw(st.integers(y0, span))
            boxes.append((-180 + (4 * cx + x0) * q, -90 + (4 * cy + y0) * q, -180 + (4 * cx + x1) * q, -90 + (4 * cy + y1) * q))
        if boxes and draw(st.booleans()):
            boxes += [boxes[0]] * draw(st.integers(8, 24))
        return [(first_id + i, *b) for i, b in enumerate(boxes)]

    return cell, n_salts, draw(st.booleans()), layer(0), layer(1000)


def _brute_pairs(a, b) -> list[tuple[int, int]]:
    """Every (a id, b id) whose boxes overlap as closed intervals."""
    if not a or not b:
        return []
    A, B = np.array(a, dtype=np.float64), np.array(b, dtype=np.float64)
    hit = (
        (A[:, None, 3] >= B[None, :, 1]) & (A[:, None, 1] <= B[None, :, 3])
        & (A[:, None, 4] >= B[None, :, 2]) & (A[:, None, 2] <= B[None, :, 4])
    )
    ia, ib = np.nonzero(hit)
    return sorted(zip(A[ia, 0].astype(int).tolist(), B[ib, 0].astype(int).tolist()))


@settings(max_examples=14, deadline=None)
@given(_box_layers())
# an empty side, and two boxes sharing only the corner (+180, +90)
@example((1.0, 2, False, [], [(1000, 0.0, 0.0, 1.0, 1.0)]))
@example((1.0 / 8, 8, False, [(0, 179.875, 89.875, 180.0, 90.0)], [(1000, 180.0, 90.0, 180.0, 90.0)]))
def test_cell_pair_join_matches_brute_force(spark, layers):
    """cell_pair_join returns each closed-interval box overlap exactly once,
    at every cell size and salt fan, for box and point a sides."""
    cell, n_salts, points, a, b = layers
    if points:
        a = [(i, x, y, x, y) for i, x, y, _, _ in a]
    da = spark.createDataFrame(a, "aid long, ax0 double, ay0 double, ax1 double, ay1 double")
    db = spark.createDataFrame(b, "bid long, bx0 double, by0 double, bx1 double, by1 double")
    a_box = ("ax0", "ay0", "ax0", "ay0") if points else _A_BOX
    got = sorted(tuple(r) for r in cell_pair_join(da, db, a_box, _B_BOX, cell, n_salts).select("aid", "bid").collect())
    assert got == _brute_pairs(a, b)


def test_salt_fan_boundary():
    """Salting starts only above two fair task shares: need == 2.0 keeps
    the join unsalted, the next representable need fans out to 4."""
    assert _salt_fan(1024, 4096, 8, 64) == 0  # need = 1024 * 8 / 4096 = 2.0
    assert _salt_fan(1025, 4096, 8, 64) == 4  # need = 2.001953125
