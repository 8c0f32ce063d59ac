"""J2 — cell-indexed spatial join (point x polygon).

The reference's only true spatial join is the per-pixel rasterize
(/root/reference/terrakit/download/download_data.py:326-396) — an O(pixels x
polygons) Python-side loop. Here it becomes:

  polygons --explode--> cover cells
  points   --keyed by--> containing cell
  equi-join on cell  ->  exact ray-cast PIP refine (Arrow pandas UDF)

`cell_pair_join` is that candidate join, shared by every spatial operator
here and in coverage.py and rasterize.py: cover-cell explode, salt decision,
pinned salted repartition, cell equi-join, canonical-cell dedup and the JVM
bbox prefilter. Each operator adds its own refine."""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# _MATERIALIZED and materialize_synth are re-exported: perfbench/ reads them here
from terrakit_spark.catalog import _MATERIALIZED, _register_views, materialize_synth, memoized  # noqa: F401
from terrakit_spark.dialect import DUCK, SPARK, D
from terrakit_spark.functions.cells import _ny, cell_id, replicate_salts, with_cover_cells, with_point_cell, with_salt
from terrakit_spark.functions.geometry import GeomIndex, geom_ref, pip_kernel, refine_udf, sat_kernel
from terrakit_spark.registry import register_df, with_synth


def salted_partitions(df: DataFrame, n_salts: int) -> int:
    """Partition count for a PINNED salted shuffle: n_salts tasks per
    available execution slot, derived from the CLUSTER's parallelism —
    never a literal core count. The pinning exists to buy N->4N scaling
    (AQE coalescing merges salted keys back); a constant fan would cap the
    salted stage at the dev box's width regardless of executor count."""
    return n_salts * df.sparkSession.sparkContext.defaultParallelism


def cell_pair_join(
    a: DataFrame,
    b: DataFrame,
    a_box: tuple[str, str, str, str],
    b_box: tuple[str, str, str, str],
    cell_deg: float,
    n_salts: int | None = 0,
    bboxes: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Every (a, b) row pair whose boxes overlap (closed intervals), exactly
    once, with both sides' columns: the candidate join under every spatial
    operator. Boxes are (xmin, ymin, xmax, ymax) column names, and the two
    sides' column names must be distinct.

    Both sides explode to the cells their boxes cover and equi-join on the
    cell. A pair whose boxes overlap meets in every shared cover cell; only
    the cell holding the intersection's lower-left corner (greatest(xmin),
    greatest(ymin)) emits it. That corner lies inside both boxes, so the
    pair survives exactly once, with no distinct shuffle. An a_box of
    (x, y, x, y) makes the a side points: each point keys by the one cell
    that contains it, so its pairs need no canonical-cell filter. The bbox
    filter then drops the candidates a cell is too coarse to reject; it runs
    in the JVM, below any refine, so they never pay an Arrow transfer.

    n_salts > 0 splits each cell's a rows across n_salts shuffle keys (a
    hash of a_box[0] + a_box[3]) and replicates the b rows per salt — the
    hotspot-cell lever. A hot cell's candidate PRODUCT is one join key,
    invisible to AQE's byte-keyed skew split, so the salted partitioning is
    pinned with an explicit numPartitions repartition on the join keys: AQE
    coalescing (measured at sf1) otherwise merges the salted keys straight
    back onto one task, and the join reuses the co-partitioning. A pair
    still meets once (its a row hashes to one salt). n_salts=None decides
    the fan: bbox_salts on the driver from `bboxes` (the two sides' (n, 4)
    bbox arrays) when given, else the probe_salts job.

    No forced broadcast: an index-sized side is an in-memory relation whose
    exact size lets the planner broadcast it up front; over the gate, AQE
    converts the shuffle join to broadcast at runtime when a side IS small
    (a forced hint errors outright once a side passes Spark's 8 GB
    broadcast cap, as the exploded label side of the scene join does at
    sf1+)."""
    points = a_box[0] == a_box[2] and a_box[1] == a_box[3]
    if points:
        a_cells = with_point_cell(a, a_box[0], a_box[1], out="_cell", cell_deg=cell_deg)
    else:
        a_cells = with_cover_cells(a, *a_box, out="_cell", cell_deg=cell_deg)
    b_cells = with_cover_cells(b, *b_box, out="_cell", cell_deg=cell_deg)
    if n_salts is None:
        par = a.sparkSession.sparkContext.defaultParallelism
        n_salts = bbox_salts(*bboxes, cell_deg, par) if bboxes is not None else probe_salts(a_cells, b_cells)
    on = ["_cell"]
    if n_salts > 0:
        on.append("_salt")
        p = salted_partitions(a, n_salts)
        a_cells = with_salt(a_cells, "_cell", n_salts, F.col(a_box[0]) + F.col(a_box[3]), out="_salt")
        a_cells = a_cells.repartition(p, *on)
        b_cells = replicate_salts(b_cells, n_salts, out="_salt").repartition(p, *on)
    cand = a_cells.join(b_cells, on=on, how="inner")
    ax0, ay0, ax1, ay1 = (F.col(c) for c in a_box)
    bx0, by0, bx1, by1 = (F.col(c) for c in b_box)
    if not points:
        cand = cand.filter(F.col("_cell") == cell_id(F.greatest(ax0, bx0), F.greatest(ay0, by0), cell_deg))
    cand = cand.filter((ax1 >= bx0) & (ax0 <= bx1) & (ay1 >= by0) & (ay0 <= by1))
    return cand.drop(*on)


def cell_pip_join(
    points: DataFrame,
    polys: DataFrame,
    px: str = "mx",
    py: str = "my",
    vertices: str = "vertices",
    n_salts: int = 0,
    cell_deg: float | None = None,
    candidate_filter=None,
    verts_key: str = "label_id",
) -> DataFrame:
    """points(px, py, ...) x polys(xmin..ymax bbox cols, vertices flat
    [x0,y0,...], ...) -> matched pairs (all columns from both sides but
    `vertices`, which the output never carries).

    cell_deg=None (default) picks the grid from MEASURED point density via
    adaptive_cell_deg — the round-4 sf1 lesson: a fixed grid that is right
    at sf0.1 is 4x too coarse at sf1's hotspot density; the selector tracks
    it the way H3/S2 resolution selection does. An explicit cell_deg
    overrides it. The grid is a candidate-generation device: every
    resolution yields the same refined output (spatial_join_pip and
    spatial_join_pip_salted share one oracle, and
    test_adaptive_cell_join_exactness pins the adaptive grid to a fixed one).

    The candidates come from cell_pair_join with the points as its a side;
    candidate_filter, a predicate over both sides' columns, runs on them
    before the refine (the sampled join's key hash).

    The refine reads geometry from the layer's GeomIndex when geom_index
    admits the layer (the Arrow transfer per candidate is key, px, py and
    the vertex bytes never ride the explode or shuffle), else from the
    vertices column per row."""
    if cell_deg is None:
        cell_deg = adaptive_cell_deg(points, px, py, polys)
    geo, bcast, rel = geom_index(polys, verts_key, vertices)
    if geo is not None:
        polys = rel
    cand = cell_pair_join(points, polys, (px, py, px, py), BBOX, cell_deg, n_salts)
    if candidate_filter is not None:
        cand = cand.filter(candidate_filter)
    # exact refine: Arrow-batched ray-cast UDF. (A pure-SQL higher-order
    # ray-cast was measured 4x SLOWER — Spark HOFs don't codegen; the Arrow
    # round-trip beats interpreted per-edge lambdas.)
    geom = geom_ref(bcast, verts_key, vertices)
    hit = cand.filter(refine_udf(pip_kernel, "boolean", [geom], F.col(px), F.col(py)))
    return hit.drop(vertices)


def _diamond_polys(spark: SparkSession) -> DataFrame:
    """Synthetic label diamonds as generic polygons (flat vertex list) —
    the engine never sees the closed form, only vertices. Reads the
    application's pulled label layer (`stored_layer`), so every derived
    polygon layer (halves, filters, the coverage side) is pulled from
    memory, not from the table's files; over INDEX_MAX_BYTES it reads the
    view."""
    return spark.sql(
        """
        SELECT label_id, labelclass, geom_seq, datetime,
               cx - rx AS xmin, cy - ry AS ymin, cx + rx AS xmax, cy + ry AS ymax,
               array(cx - rx, cy, cx, cy - ry, cx + rx, cy, cx, cy + ry) AS vertices
        FROM {labels}
        """,
        labels=stored_layer(spark, "labels"),
    )


def spatial_join_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-span points joined to label polygons: exact (media_ref,
    label_id) pair set — the join-output-rows parity gate."""
    _register_views(spark, sf_dir)
    points = spark.table("media").select("media_ref", "mx", "my")
    polys = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    return cell_pip_join(points, polys).select("media_ref", "label_id")


def _cover_cells_cte(d: D) -> str:
    """DuckDB cover-cell explosion (nested unnest levels = cross product)."""
    return """
SELECT label_id, cx, cy, rx, ry,
       unnest(generate_series(CAST(floor(cy - ry + 9.0e1) AS BIGINT),
                              CAST(floor(cy + ry + 9.0e1) AS BIGINT))) AS cell_y,
       cell_x
FROM (SELECT label_id, cx, cy, rx, ry,
             unnest(generate_series(CAST(floor(cx - rx + 1.8e2) AS BIGINT),
                                    CAST(floor(cx + rx + 1.8e2) AS BIGINT))) AS cell_x
      FROM labels) _lx
"""


_ORACLE = with_synth(
    DUCK,
    f"""
SELECT p.media_ref, l.label_id
FROM (SELECT media_ref, mx, my,
             CAST(floor(mx + 1.8e2) AS BIGINT) AS cell_x,
             CAST(floor(my + 9.0e1) AS BIGINT) AS cell_y
      FROM media) p
JOIN ({_cover_cells_cte(D(DUCK))}) l
  ON p.cell_x = l.cell_x AND p.cell_y = l.cell_y
WHERE abs(p.mx - l.cx) / l.rx + abs(p.my - l.cy) / l.ry < 1
""",
    tables=["labels", "media"],
)

register_df("spatial_join_pip", spatial_join_pip, oracle=_ORACLE)


def spatial_join_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME join through the salted shuffle path (n_salts=8): the
    point side hashes into a salt, the polygon side replicates per salt,
    and the equi-join keys on (cell, salt) — the north rule's 'salted
    repartitioning for hotspot cells'. Pinned to the IDENTICAL oracle as
    spatial_join_pip, because salting is a physical-layout device and must
    be invisible in the output (a wrong salt join duplicates or drops
    pairs — exactly what the shared value-hash would catch)."""
    _register_views(spark, sf_dir)
    points = spark.table("media").select("media_ref", "mx", "my")
    polys = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    return cell_pip_join(points, polys, n_salts=8).select("media_ref", "label_id")


register_df("spatial_join_pip_salted", spatial_join_pip_salted, oracle=_ORACLE)


def adaptive_cell_deg(
    points: DataFrame,
    px: str,
    py: str,
    polys: DataFrame,
    target_per_cell: float = 64.0,
    min_deg: float = 1.0 / 256,
    max_deg: float = 1.0,
) -> float:
    """Pick the cell size from MEASURED point density — the round-4 sf1
    lesson: a fixed cell grid is the right index only while per-cell
    density is bounded. 10x rows in a fixed-area world is 10x density, and
    per-cell candidate pairs grow with density^2; the cell level must
    track density the way H3/S2 resolution selection does.

    The density that matters is the HOTTEST cell's, not the global mean —
    skew is the whole problem (a uniform-mean selector read the synthetic
    world as sparse while 30% of points sit in 15 deg^2). So the probe is
    a cell-OCCUPANCY aggregate on a coarse 1-degree grid: density =
    max(points per probe cell) / probe area, then cell area ~=
    target_per_cell / density -> cell_deg = sqrt(target/density), snapped
    DOWN to a power of two (keeps the grid nested and deterministic),
    clamped to [min_deg, max_deg] and floored at a quarter of the mean
    polygon radius — below that, cover-cell rows per polygon grow as
    (2r/cell)^2 and the polygon side's explosion costs what the point
    side saved.

    Cost: ONE Spark job — a map-combinable groupBy over the probe grid
    (<= 64,800 output cells at ANY input size) cross-joined to the 1-row
    mean-extent aggregate over polys, so both scalars come back in a
    single driver collect — the same class of scalar pre-pass as the
    pipeline's label-broadcast sizing.

    The returned cell size is ALWAYS a power of two (nested/deterministic
    grid): raw density snaps DOWN, the polygon-radius floor snaps UP, and
    min_deg/max_deg are themselves powers of two.

    The selection is memoized per (application, semantic input plans): the
    probe is deterministic for a given input, so repeated joins over the
    same tables — a bench repeat, a pipeline stage re-run — pay the scan
    once. At 100 TB the probe is one map-combinable aggregate per distinct
    input, amortized across every join that reuses it."""

    def measure() -> float:
        probe = 1.0
        occ_df = (
            points.groupBy(
                F.floor(F.col(px) / probe).alias("_ox"), F.floor(F.col(py) / probe).alias("_oy")
            )
            .agg(F.count("*").alias("n"))
            .agg(F.max("n").alias("hot"))
        )
        ext_df = polys.agg(F.avg((F.col("xmax") - F.col("xmin")) / 2.0).alias("r"))
        row = occ_df.crossJoin(ext_df).collect()[0]
        if not row.hot:
            return max_deg
        density = row.hot / (probe * probe)
        raw = math.sqrt(target_per_cell / density)
        r_floor = (row.r or 0.0) / 4.0
        if r_floor > 0:
            r_floor = 2.0 ** math.ceil(math.log2(r_floor))
        snapped = 2.0 ** math.floor(math.log2(max(raw, 1e-9)))
        return min(max(snapped, r_floor, min_deg), max_deg)

    return memoized((points, polys), ("cell_deg", px, py, target_per_cell, min_deg, max_deg), measure)


def probe_salts(a_cells: DataFrame, b_cells: DataFrame, max_salts: int = 64) -> int:
    """Pick the salt fan for a cell-keyed combinatorial join from MEASURED
    per-cell candidate products — the adaptive_cell_deg pattern applied to
    the salting decision (round-5 lesson: the choice was hand-flipped per
    query after an sf0.1 falsification; the trigger belongs in a probe).

    The skew that matters is the hottest cell's candidate PRODUCT |a|x|b|:
    it is a SINGLE join key, so its entire product lands on one task —
    invisible to AQE's byte-keyed skew split (the verdict-documented sf1
    failure). The probe aggregates per-cell counts on both sides (two
    map-combinable groupBys, output <= occupied cells at ANY input size),
    joins them, and compares the hottest product against a fair task share:
    need = hot / (total / defaultParallelism). need <= 2 means even the
    hottest cell is at most ~2 fair shares — salting would only add
    replication; above that, salt with the next power of two >= need
    (capped) so the hot cell's work spreads across ~need tasks.

    Memoized per (application, semantic input plans): repeated joins over
    the same layers — a bench repeat — pay the probe once. Layers that
    geom_index admits skip this job: bbox_salts makes the same decision
    from the pulled bboxes on the driver."""

    def measure() -> int:
        a_cnt = a_cells.groupBy("_cell").agg(F.count("*").alias("_na"))
        b_cnt = b_cells.groupBy("_cell").agg(F.count("*").alias("_nb"))
        row = (
            a_cnt.join(b_cnt, on="_cell", how="inner")
            .select((F.col("_na") * F.col("_nb")).alias("_p"))
            .agg(F.max("_p").alias("hot"), F.sum("_p").alias("total"))
            .collect()[0]
        )
        return _salt_fan(row.hot, row.total, a_cells.sparkSession.sparkContext.defaultParallelism, max_salts)

    return memoized((a_cells, b_cells), ("salts", max_salts), measure)


def _salt_fan(hot: int, total: int, par: int, max_salts: int) -> int:
    """need = hot / (total / par): salt only when the hottest cell's
    candidate product exceeds two fair task shares (see probe_salts)."""
    if not total or not hot:
        return 0
    need = hot * par / total
    return 0 if need <= 2.0 else int(min(2 ** math.ceil(math.log2(need)), max_salts))


def _cell_counts(bbox: np.ndarray, cell_deg: float) -> tuple[np.ndarray, np.ndarray]:
    """with_cover_cells in numpy: every (n, 4) bbox row's cover-cell ids by
    the same float formula, then (distinct cells, rows per cell)."""
    x0, y0, x1, y1 = (
        np.floor((bbox[:, i] + off) / cell_deg).astype(np.int64)
        for i, off in enumerate((180.0, 90.0, 180.0, 90.0))
    )
    h = y1 - y0 + 1
    per = (x1 - x0 + 1) * h
    row = np.repeat(np.arange(len(bbox)), per)
    off = np.arange(len(row)) - np.repeat(np.cumsum(per) - per, per)
    cells = (x0[row] + off // h[row]) * _ny(cell_deg) + y0[row] + off % h[row]
    return np.unique(cells, return_counts=True)


def bbox_salts(bbox_a: np.ndarray, bbox_b: np.ndarray, cell_deg: float, par: int, max_salts: int = 64) -> int:
    """probe_salts' decision, made on the driver from two layers' bboxes."""
    ca, na = _cell_counts(bbox_a, cell_deg)
    cb, nb = _cell_counts(bbox_b, cell_deg)
    _, ia, ib = np.intersect1d(ca, cb, assume_unique=True, return_indices=True)
    prod = na[ia] * nb[ib]
    return _salt_fan(int(prod.max(initial=0)), int(prod.sum()), par, max_salts)


# ------------------------------------------------------ driver-side layers
# A layer small enough for the driver is pulled ONCE per (application,
# semantic plan, byte cap) with one Arrow job. The same pull feeds the
# join's salt fan and refine geometry (numpy) AND becomes the join's input:
# an in-memory relation of the pulled rows, so a warm call neither probes,
# collects nor re-reads the layer's files. Spark plans that relation as a
# LocalRelation with exact size statistics, so its own planner picks the
# broadcast side of the candidate join. `stored_layer` serves a whole
# stored table the same way (rows only, no value, no broadcast).
INDEX_MAX_BYTES = 128 << 20  # padded vertex cube (rows x max vertices x 16)
BBOX = ("xmin", "ymin", "xmax", "ymax")


class Pulled(NamedTuple):
    """A memoized layer pull: the built value (None when over the cap or
    nothing was built), its broadcast (None without a value), and the pulled
    rows as an in-memory DataFrame (None when the caller asked for no
    relation or the layer is over the cap)."""

    value: object
    bcast: Broadcast | None
    rel: DataFrame | None


_NOT_PULLED = Pulled(None, None, None)


def _pull(layer: DataFrame, cols: list[str], build, keep: list[str] | None = None) -> Pulled:
    """Memoized Pulled of build(layer[cols] as Arrow, max_bytes), where
    max_bytes is INDEX_MAX_BYTES read at call time and kept in the memo key
    (a changed gate never reuses a pull admitted under the old one); value
    is None when the layer is over max_bytes. Spark's own plan size estimate
    (the one it trusts before collecting a broadcast-join side) screens out
    layers too big to pull; `build` applies the exact gate to the pulled
    arrays and keeps numpy only. build=None builds no value: the exact gate
    is the pulled Arrow table's nbytes <= max_bytes, and an admitted pull
    yields `rel` only (no value, no broadcast). With `keep`, the pull reads
    the whole layer and its `keep` columns also become `rel`, a DataFrame
    over the pulled Arrow table with layer.select(*keep)'s schema (column
    order and types); without it, the pull reads `cols` only. A built value
    is broadcast once; the catalog's plan memo unpersists it on eviction or
    release."""
    df = layer if keep is not None else layer.select(*cols)
    spark = layer.sparkSession
    max_bytes = INDEX_MAX_BYTES

    def pull() -> Pulled:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        t = df.toArrow() if est <= max_bytes else None
        value = None if t is None or build is None else build(t.select(cols), max_bytes)
        admitted = value is not None or (build is None and t is not None and t.nbytes <= max_bytes)
        return _NOT_PULLED if not admitted else Pulled(
            value,
            None if value is None else spark.sparkContext.broadcast(value),
            None if keep is None else spark.createDataFrame(t.select(keep), schema=layer.select(*keep).schema),
        )

    return memoized((df,), ("pull", tuple(cols), tuple(keep or ()), max_bytes), pull)


def geom_index(layer: DataFrame, key: str, vertices: str = "vertices") -> Pulled:
    """Pulled(GeomIndex, its broadcast, the layer without `vertices`) of a
    polygon layer, or all None for the per-row path: no `key` column, keys
    that are null or not unique, or a cube over INDEX_MAX_BYTES."""
    columns = layer.columns
    if key not in columns:
        return _NOT_PULLED

    def build(t, max_bytes):
        v, k = t.column(vertices).combine_chunks(), t.column(key)
        counts = v.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        if v.null_count or k.null_count or len(counts) * (counts.max(initial=0) // 2) * 16 > max_bytes:
            return None
        keys = k.to_numpy().astype(np.int64)
        if len(np.unique(keys)) < len(keys):
            return None
        bbox = np.column_stack([t.column(c).to_numpy() for c in BBOX])
        return GeomIndex.build(keys, bbox, v.flatten().to_numpy(), counts)

    keep = [c for c in columns if c != vertices]
    return _pull(layer, [key, *BBOX, vertices], build, keep)


def layer_bboxes(layer: DataFrame, cols: tuple[str, str, str, str]) -> Pulled:
    """Pulled((n, 4) float64 bboxes, their broadcast, the whole layer) of a
    layer without geometry, e.g. tiles (cols = xmin, ymin, xmax, ymax), or
    all None over INDEX_MAX_BYTES. The bboxes are the salt-decision input
    for that side."""

    def build(t, max_bytes):
        if t.num_rows * 32 > max_bytes:
            return None
        return np.column_stack([t.column(c).to_numpy() for c in cols])

    return _pull(layer, list(cols), build, layer.columns)


def stored_layer(spark: SparkSession, name: str) -> DataFrame:
    """The stored table `name` as pulled rows (an in-memory relation with
    the view's schema) when it fits INDEX_MAX_BYTES, else the view itself.
    Pulled on first use, once per application; the staged chip job's stages
    and the spatial joins' derived layers (`_diamond_polys`, `_geo_tiles`)
    plan over it instead of re-reading the table's files."""
    layer = spark.table(name)
    rel = _pull(layer, [], None, layer.columns).rel
    return layer if rel is None else rel


SAMPLE_MOD = 7  # keep ~1/7 of join-output pairs


def _sample_pred(d: D) -> str:
    """Join-key-only sampling predicate (Random Sampling over Spatial Range
    Joins, ICDE 2025, simplified to a deterministic hash design): a pair
    survives iff a portable hash of ITS KEYS lands in the sample. Because
    the predicate needs only (media_ref, label_id) — both available at
    candidate time — it pushes BELOW the exact PIP refine, so the ray-cast
    and the output are paid only for sampled pairs. Membership is
    independent of cell resolution, salting, and partitioning."""
    h = d.rolling_hash("media_ref")
    return f"(({h} + label_id * 31) % {SAMPLE_MOD}) = 0"


def spatial_join_pip_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1/SAMPLE_MOD uniform-by-hash sample of the spatial-join OUTPUT
    without computing the full join — the answer to the density lesson of
    the sf1 run (join output grows ~quadratically with density; analyses
    over it usually need a sample, not the full pair set). The oracle is
    the full-join oracle plus the IDENTICAL sampling predicate, so the
    sample's exact membership is value-checked, not just its size."""
    _register_views(spark, sf_dir)
    points = spark.table("media").select("media_ref", "mx", "my")
    polys = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    pred = F.expr(_sample_pred(D(SPARK)))
    return cell_pip_join(points, polys, candidate_filter=pred).select("media_ref", "label_id")


_SAMPLED_ORACLE = with_synth(
    DUCK,
    f"""
SELECT p.media_ref, l.label_id
FROM (SELECT media_ref, mx, my,
             CAST(floor(mx + 1.8e2) AS BIGINT) AS cell_x,
             CAST(floor(my + 9.0e1) AS BIGINT) AS cell_y
      FROM media) p
JOIN ({_cover_cells_cte(D(DUCK))}) l
  ON p.cell_x = l.cell_x AND p.cell_y = l.cell_y
WHERE abs(p.mx - l.cx) / l.rx + abs(p.my - l.cy) / l.ry < 1
  AND (({D(DUCK).rolling_hash('p.media_ref')} + l.label_id * 31) % {SAMPLE_MOD}) = 0
""",
    tables=["labels", "media"],
)

register_df("spatial_join_pip_sampled", spatial_join_pip_sampled, oracle=_SAMPLED_ORACLE)


# ------------------------------------------------- polygon x polygon overlap
# The reference never joins two polygon layers (its only spatial join is the
# per-pixel label burn); this extends the same cell-index design to
# polygon<->polygon — the operator a label layer needs to reconcile against a
# second vector layer (admin boundaries, tile footprints, another label
# vintage) at 10^12 scale.
OVERLAP_EPS = 1e-6  # SAT depth threshold, in edge-normal-scaled units
# Poly x poly wants cells at POLYGON-DIAMETER scale, not the point-join's
# 0.125-deg grid: both sides explode to cover cells, so a grid 10x finer
# than the shapes replicates each side ~100x for no extra pruning. (The
# point join only replicates its polygon side; its point side is free.)
OVERLAP_CELL_DEG = 1.0


def convex_overlap_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    cell_deg: float = OVERLAP_CELL_DEG,
    eps: float = OVERLAP_EPS,
    n_salts: int | None = None,
    verts_key: str = "label_id",
) -> DataFrame:
    """Exact interiors-intersect join of two convex-polygon layers, each
    with (xmin, ymin, xmax, ymax, vertices) columns; the b side's columns
    come back suffixed `_b`.

    The candidates come from cell_pair_join (both sides explode to cover
    cells; canonical-cell dedup and the bbox-overlap prefilter run in the
    JVM), then one Arrow SAT refine keeps pairs with separation depth > eps:
    strictly interior-overlapping pairs, with a documented tolerance band
    instead of a float-equality knife edge at tangency (the synthetic layer
    genuinely contains edge-tangent diamond pairs). The bbox prefilter is
    non-strict; the refine decides boundary semantics.

    n_salts > 0 salts the candidate join — the hotspot-cell lever. A dense
    region at diameter-scale cells is a SINGLE join key whose candidate
    product lands on one task (measured at sf1: 1 of 32 cores busy for
    >20 min while the refine is minutes of parallel work); unlike the
    point join, nearly every hotspot candidate is a genuine match, so
    finer cells cannot shrink the work — salting spreads it, and the
    output is provably salt-invariant (same oracle as the unsalted query).
    n_salts=None (default) decides from the measured hottest-cell candidate
    product: on the driver by bbox_salts when both layers have a GeomIndex,
    else by the probe_salts job. Pass 0 to force unsalted, >0 to force a
    fan.

    Each side reads geometry as in cell_pip_join: with both indexes the
    Arrow transfer per candidate pair is two int64 keys. The output never
    carries `vertices`/`vertices_b`."""
    geo_a, bcast_a, rel_a = geom_index(polys_a, verts_key)
    geo_b, bcast_b, rel_b = geom_index(polys_b, verts_key)
    if geo_a is not None:
        polys_a = rel_a
    if geo_b is not None:
        polys_b = rel_b
    b = polys_b.select([F.col(c).alias(f"{c}_b") for c in polys_b.columns])
    bboxes = (geo_a.bbox, geo_b.bbox) if geo_a is not None and geo_b is not None else None
    b_box = tuple(f"{c}_b" for c in BBOX)
    cand = cell_pair_join(polys_a, b, BBOX, b_box, cell_deg, n_salts, bboxes)
    geoms = [geom_ref(bcast_a, verts_key, "vertices"), geom_ref(bcast_b, f"{verts_key}_b", "vertices_b")]
    depth = refine_udf(sat_kernel, "double", geoms)
    return cand.filter(depth > F.lit(eps)).drop("vertices", "vertices_b")


def polygon_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-id label diamonds overlap-joined against odd-id ones: the exact
    (label_a, label_b) interior-intersection pair set. Salting is
    probe-driven (n_salts=None -> probe_salts): salted was measured faster
    at BOTH sf0.1 (9.2 vs 20-22 s at 32 cores, no penalty at 8) and sf1
    (591 vs 2501 s) — the hotspot product dominates this join at every
    density tried, and unsalted it rides one task; the probe encodes that
    trigger instead of a hand-flipped constant."""
    _register_views(spark, sf_dir)
    d = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    b = d.filter("label_id % 2 = 1")
    a = d.filter("label_id % 2 = 0")
    return convex_overlap_join(a, b).select(
        F.col("label_id").alias("label_a"), F.col("label_id_b").alias("label_b")
    )


def _polygon_overlap_join_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsalted physical variant pinned to the IDENTICAL oracle — the
    salt-invariance proof (same pattern as spatial_join_pip/_salted)."""
    _register_views(spark, sf_dir)
    d = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    a = d.filter("label_id % 2 = 0")
    b = d.filter("label_id % 2 = 1")
    return convex_overlap_join(a, b, n_salts=0).select(
        F.col("label_id").alias("label_a"), F.col("label_id_b").alias("label_b")
    )


def _sat_gap(ax: str, ay: str) -> str:
    """DuckDB-side SAT interval gap on one (unnormalized) axis for the
    diamond closed form: projection extent of a diamond (c, rx, ry) onto
    axis (ax, ay) is max(rx*|ax|, ry*|ay|); the engine's generic edge-normal
    axes for a diamond are exactly (+-ry, +-rx), so the scaled depths agree
    bit-for-close (same real value, float noise ~1e-14 << the 4e-5 dead band
    around OVERLAP_EPS measured on the synthetic layer)."""
    return (
        f"(greatest(a.rx*abs({ax}), a.ry*abs({ay})) + greatest(b.rx*abs({ax}), b.ry*abs({ay}))"
        f" - abs((b.cx-a.cx)*({ax}) + (b.cy-a.cy)*({ay})))"
    )


_OVERLAP_ORACLE = with_synth(
    DUCK,
    f"""
SELECT a.label_id AS label_a, b.label_id AS label_b
FROM labels a JOIN labels b
  ON a.cx - a.rx <= b.cx + b.rx AND b.cx - b.rx <= a.cx + a.rx
 AND a.cy - a.ry <= b.cy + b.ry AND b.cy - b.ry <= a.cy + a.ry
WHERE a.label_id % 2 = 0 AND b.label_id % 2 = 1
  AND least({_sat_gap('a.ry', 'a.rx')}, {_sat_gap('a.ry', '-a.rx')},
            {_sat_gap('b.ry', 'b.rx')}, {_sat_gap('b.ry', '-b.rx')}) > 1e-6
""",
    tables=["labels"],
)

register_df("polygon_overlap_join", polygon_overlap_join, oracle=_OVERLAP_ORACLE)
register_df("polygon_overlap_join_unsalted", _polygon_overlap_join_unsalted, oracle=_OVERLAP_ORACLE)
