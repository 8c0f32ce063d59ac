"""The driver-side geometry index and the plan shape it buys: one Arrow
pull per index-sized layer (none when warm) that is also the join's input,
one Arrow refine per candidate, loud lookups, a size-independent output
schema, released layers, and the same rows whichever path (index or per-row
vertices, driver or Spark salt decision) the byte gate picks."""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pytest
from pyspark.sql import functions as F

from terrakit_spark import catalog
from terrakit_spark.functions.geometry import GeomIndex, pip_kernel, refine_udf
from terrakit_spark.operators import coverage as cv
from terrakit_spark.operators import spatial_join as sj
from terrakit_spark.registry import QUERIES
from tests.util import executed_plan


@pytest.fixture
def layers(synth, spark, sf_dir):
    catalog._register_views(spark, sf_dir)
    d = sj._diamond_polys(spark).select("label_id", "labelclass", "xmin", "ymin", "xmax", "ymax", "vertices")
    tiles = cv._geo_tiles(spark, cv.COVERAGE_SCENE_PRED)
    return d, tiles


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _stage_tasks(spark, fn) -> list[int]:
    """Tasks of every stage of every job fn launched."""
    from tests.util import job_ids_launched

    st = spark.sparkContext.statusTracker()
    stages = [st.getStageInfo(s) for j in job_ids_launched(spark, fn)[1] for s in st.getJobInfo(j).stageIds]
    return [s.numTasks for s in stages if s is not None]


def test_geom_index_build_and_lookup():
    # ragged: a triangle and a square, given out of key order
    flat = np.array([0, 0, 2, 0, 2, 2, 0, 2, 0, 0, 1, 0, 0, 1], dtype=np.float64)
    bbox = np.array([[0, 0, 2, 2], [0, 0, 1, 1]], dtype=np.float64)
    g = GeomIndex.build(np.array([9, 4]), bbox, flat, np.array([8, 6]))
    assert g.keys.tolist() == [4, 9]
    assert g.ns.tolist() == [3, 4]
    assert g.area.tolist() == [0.5, 4.0]
    assert g.cube[0, 3].tolist() == [0.0, 1.0]  # padded with the last vertex
    assert g.bbox[0].tolist() == [0, 0, 1, 1]
    assert g.rows(np.array([9, 4, 9])).tolist() == [1, 0, 1]
    for missing in ([5], [10], [3]):
        with pytest.raises(ValueError, match="no geometry"):
            g.rows(np.array(missing))
    with pytest.raises(ValueError, match="sorted"):
        GeomIndex(np.array([9, 4]), g.cube, g.ns, g.bbox, g.area)


def test_missing_key_raises_in_the_action(layers):
    """A candidate whose key was filtered out of the layer after the index
    was built must fail the action, not resolve to a neighbour's polygon."""
    d, _ = layers
    bcast = sj.geom_index(d.filter("label_id % 3 != 0"), "label_id").bcast
    ref = (bcast, F.col("label_id"))
    hit = d.filter(refine_udf(pip_kernel, "boolean", [ref], F.col("xmin"), F.col("ymin")))
    with pytest.raises(Exception, match="GeomIndex holds no geometry"):
        hit.collect()


def test_schema_and_rows_do_not_depend_on_the_byte_gate(layers, spark, monkeypatch):
    """The default gate admits every layer here (the refine reads the
    GeomIndex), a gate of 0 none (it reads the vertices column): the same
    schema, without `vertices`, and the same non-empty rows."""
    d, tiles = layers
    a, b = d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1")
    points = spark.table("media").select("media_ref", "mx", "my")
    cases = {
        "pip": lambda: sj.cell_pip_join(points, d, cell_deg=0.125),
        "overlap": lambda: sj.convex_overlap_join(a, b),
        "coverage": lambda: cv.tile_coverage_join(tiles, d),
    }
    pulled = {}
    for name, join in cases.items():
        df = join()
        pulled[name] = (df.schema, _rows(df))
    monkeypatch.setattr(sj, "INDEX_MAX_BYTES", 0)
    for name, join in cases.items():
        scanned = join()
        assert scanned.schema == pulled[name][0], name
        assert not any(c.startswith("vertices") for c in scanned.columns), name
        # every refine returns the same rows from either geometry source (for
        # coverage, the kernel's contained/crossing split runs on both paths)
        got = _rows(scanned)
        assert got == pulled[name][1] and got, name


def test_one_arrow_refine_per_plan(layers, spark, sf_dir):
    d, tiles = layers
    overlap = sj.convex_overlap_join(d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1"))
    coverage = cv.tile_coverage_join(tiles, d)
    for df in (overlap, coverage):
        assert executed_plan(df).count("ArrowEvalPython") == 1
    # the rollup on top of the coverage pairs must not copy the UDF either
    assert executed_plan(QUERIES["tile_label_coverage"](spark, sf_dir)).count("ArrowEvalPython") == 1


def test_pulled_layers_are_the_join_input(layers, spark, sf_dir):
    """Both layers index-sized: the joins plan over the pulled rows
    (LocalTableScan) and never re-read the layers' files. Unsalted, a warm
    call's refine stage runs at most defaultParallelism tasks (a salted
    call pins n_salts x defaultParallelism by design, see test_salting)."""
    for q in ("polygon_overlap_join", "tile_label_coverage"):
        plan = executed_plan(QUERIES[q](spark, sf_dir))
        assert plan.count("LocalTableScan") == 2 and "Scan parquet" not in plan, (q, plan)
    d, tiles = layers
    par = spark.sparkContext.defaultParallelism
    joins = {
        "overlap": lambda: sj.convex_overlap_join(d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1"), n_salts=0),
        "coverage": lambda: cv.tile_coverage_join(tiles, d, n_salts=0),
    }
    for name, join in joins.items():
        join().count()  # cold: pull both layers
        tasks = _stage_tasks(spark, join().count)
        assert tasks and max(tasks) <= par, (name, tasks, par)


def test_evicted_layer_is_released_and_repulled(layers, spark, monkeypatch):
    """With room for one layer, pulling a second unpersists the first one's
    broadcast and drops its relation; the first join then re-pulls with one
    job and returns the same rows."""
    from tests.util import jobs_launched

    d, _ = layers
    points = spark.table("media").select("media_ref", "mx", "my")
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    monkeypatch.setattr(catalog, "_MEMO_MAX", 1)
    join = lambda: sj.cell_pip_join(points, d, cell_deg=0.125)  # noqa: E731
    first = _rows(join())
    ((memo, pulled),) = catalog._MEMO.items()
    unpersisted, real = [], pulled.bcast.unpersist
    monkeypatch.setattr(pulled.bcast, "unpersist", lambda *a: unpersisted.append(a) or real(*a))
    assert sj.geom_index(d.filter("label_id % 2 = 0"), "label_id").rel is not None
    assert unpersisted and memo not in catalog._MEMO
    assert all(p.rel is not pulled.rel for p in catalog._MEMO.values())
    df, jobs = jobs_launched(spark, join)
    assert jobs == 1 and first and _rows(df) == first


def test_materialize_synth_releases_the_applications_layers(layers, spark, sf_dir, tmp_path, monkeypatch):
    """materialize_synth rewrites tables in place, at the same plans: no
    layer, cell size or salt fan the application probed before may survive
    it; another application's choices do."""
    d, tiles = layers
    app = spark.sparkContext.applicationId
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    sj.geom_index(d, "label_id")
    sj.layer_bboxes(tiles, ("txmin", "tymin", "txmax", "tymax"))
    unpersisted = []
    for p in catalog._MEMO.values():
        monkeypatch.setattr(p.bcast, "unpersist", lambda *a, real=p.bcast.unpersist: unpersisted.append(a) or real(*a))
    assert len(unpersisted) == 0 and len(catalog._MEMO) == 2
    # probed cell sizes and salt fans, this application's and another's
    catalog._MEMO.update({(app, 1, 2): 0.5, ("other", 1, 2): 0.5, (app, 1, 2, 64): 8, ("other", 1, 2, 64): 8})
    monkeypatch.setattr(catalog, "ALL_TABLES", {"labels": catalog.ALL_TABLES["labels"]})
    try:
        catalog.materialize_synth(spark, sf_dir, str(tmp_path / "stored"))
        assert not any(k[0] == app for k in catalog._MEMO)
        assert len(unpersisted) == 2
        assert list(catalog._MEMO) == [("other", 1, 2), ("other", 1, 2, 64)]
    finally:
        # re-point the views at the on-the-fly synth derivations
        catalog._MATERIALIZED.pop((app, sf_dir), None)
        catalog._active_synth.pop(app, None)
        catalog._register_views(spark, sf_dir)


def test_planning_jobs_cold_then_warm(layers, monkeypatch):
    """Cold: one Arrow pull per index-sized input layer and nothing else
    (the salt fan is decided on the driver). Warm: no job at all."""
    d, tiles = layers
    sc = d.sparkSession.sparkContext
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    calls = {
        "overlap": lambda: sj.convex_overlap_join(d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1")),
        "coverage": lambda: cv.tile_coverage_join(tiles, d),
    }
    try:
        for name, call in calls.items():
            for phase, most in (("cold", 2), ("warm", 0)):
                group = f"test_geom_index:{name}:{phase}"
                sc.setJobGroup(group, group)
                call()
                assert len(sc.statusTracker().getJobIdsForGroup(group)) <= most, (name, phase)
    finally:
        sc.setJobGroup("", "")


def test_probes_drop_other_applications_entries(layers, spark, monkeypatch):
    """Cell sizes and salt fans memoized under another applicationId are
    gone once this application memoizes a probe, as layer entries are."""
    d, _ = layers
    a, b = d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1")
    points = spark.table("media").select("media_ref", "mx", "my")
    cells = lambda df: sj.with_cover_cells(df, *sj.BBOX, out="_cell", cell_deg=1.0)  # noqa: E731
    app = spark.sparkContext.applicationId
    probes = {
        "cell_deg": lambda: sj.adaptive_cell_deg(points, "mx", "my", d),
        "salts": lambda: sj.probe_salts(cells(a), cells(b)),
    }
    for tag, probe in probes.items():
        stale = {("other", 1, 2, "cell_deg", "mx", "my", 64.0): 0.5, ("other", 1, 2, "salts", 64): 8}
        monkeypatch.setattr(catalog, "_MEMO", OrderedDict(stale))
        value = probe()
        ((key, memo),) = catalog._MEMO.items()
        assert key[0] == app and tag in key and memo == value, (tag, key)


def test_probe_and_layer_evict_each_other(layers, spark, monkeypatch):
    """Pulls and probes share one LRU: with room for one entry, a probe
    evicts a pulled layer and unpersists its broadcast, and re-pulling the
    layer (one job) evicts the probe."""
    from tests.util import jobs_launched

    d, _ = layers
    points = spark.table("media").select("media_ref", "mx", "my")
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    monkeypatch.setattr(catalog, "_MEMO_MAX", 1)
    pulled = sj.geom_index(d, "label_id")
    ((layer_key, _),) = catalog._MEMO.items()
    unpersisted, real = [], pulled.bcast.unpersist
    monkeypatch.setattr(pulled.bcast, "unpersist", lambda *a: unpersisted.append(a) or real(*a))
    deg = sj.adaptive_cell_deg(points, "mx", "my", d)
    ((probe_key, memo),) = catalog._MEMO.items()
    assert unpersisted and "cell_deg" in probe_key and memo == deg
    again, jobs = jobs_launched(spark, lambda: sj.geom_index(d, "label_id"))
    assert jobs == 1 and again.rel is not pulled.rel and list(catalog._MEMO) == [layer_key]


@pytest.mark.parametrize("cell_deg", [0.25, 1.0, 2.0])
def test_driver_salt_decision_matches_probe(layers, cell_deg):
    d, tiles = layers
    a, b = d.filter("label_id % 2 = 0"), d.filter("label_id % 2 = 1")
    par = d.sparkSession.sparkContext.defaultParallelism

    def cells(df, *box):
        return sj.with_cover_cells(df, *box, out="_cell", cell_deg=cell_deg)

    bb = [sj.geom_index(x, "label_id")[0].bbox for x in (a, b, d)]
    tb = sj.layer_bboxes(tiles, ("txmin", "tymin", "txmax", "tymax")).value
    assert sj.bbox_salts(bb[0], bb[1], cell_deg, par) == sj.probe_salts(cells(a, *sj.BBOX), cells(b, *sj.BBOX))
    t = cells(tiles, "txmin", "tymin", "txmax", "tymax")
    assert sj.bbox_salts(tb, bb[2], cell_deg, par) == sj.probe_salts(t, cells(d, *sj.BBOX))


def test_byte_gate_low_takes_column_and_probe_paths(synth, spark, sf_dir, duck, monkeypatch):
    """With the cap forced to zero no layer is pulled: the joins scan the
    layers' files, the refine reads the vertices column and the salt fan
    comes from the probe_salts job; both queries still match their oracles."""
    from terrakit_spark.registry import ORACLES
    from tests.util import assert_match

    probe, probes = sj.probe_salts, []

    def counted(*args, **kw):
        probes.append(1)
        return probe(*args, **kw)

    monkeypatch.setattr(sj, "INDEX_MAX_BYTES", 0)
    monkeypatch.setattr(sj, "probe_salts", counted)
    for q in ("polygon_overlap_join", "tile_label_coverage"):
        df = QUERIES[q](spark, sf_dir)
        plan = executed_plan(df)
        assert "vertices" in plan.split("ArrowEvalPython", 1)[1].split("\n", 1)[0]
        assert "LocalTableScan" not in plan and "Scan parquet" in plan, plan
        assert_match(df, duck, ORACLES[q])
    assert len(probes) == 2
