"""Physical-plan regression tests — the plan we want, not just the first one
that passes (pushdown reaches the parquet scan, small sides broadcast, no
nested-loop joins in the spatial path, codegen on the relational glue)."""

from __future__ import annotations

import json
import os
import re
import shutil
from collections import OrderedDict

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegerType

import terrakit_spark.operators  # noqa: F401
from terrakit_spark import catalog
from terrakit_spark.operators import spatial_join as sj
from terrakit_spark.registry import QUERIES
from terrakit_spark.synth import ALL_TABLES
from tests.util import job_ids_launched, jobs_launched


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spatial_join_is_equi_hash(synth, spark, sf_dir):
    # cell equi-join (AQE picks broadcast vs shuffled hash vs SMJ at
    # runtime); never a nested-loop/cartesian theta join
    df = QUERIES["spatial_join_pip"](spark, sf_dir)
    plan = _plan(df)
    assert any(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_parquet_filter_pushdown(synth, spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_on_events_scan(synth, spark, sf_dir):
    # labels/scenes derive from events: only event_id should be read
    df = QUERIES["grouped_bbox"](spark, sf_dir)
    plan = _plan(df)
    scan = plan.split("ReadSchema")[1][:120]
    assert "event_id" in scan and "props" not in scan and "value" not in scan


def test_relational_glue_is_codegen(synth, spark, sf_dir):
    # "*(n)" prefixes mark whole-stage-codegen spans in the executed plan
    plan = _plan(QUERIES["window_grid"](spark, sf_dir))
    assert "*(1)" in plan


def test_grid_knn_matches_broadcast_knn(synth, spark, sf_dir):
    # the shuffle-path strategy (cell-ring phases + proof bound) must agree
    # exactly with the oracle-checked broadcast strategy
    from terrakit_spark.operators.knn import broadcast_knn, grid_knn

    q = spark.sql("SELECT media_ref AS qid, mx, my FROM media WHERE doc_num % 100 = 0")
    c = spark.sql("SELECT label_id, cx, cy FROM labels")
    a = sorted(tuple(r) for r in grid_knn(q, c).collect())
    b = sorted(tuple(r) for r in broadcast_knn(q, c).collect())
    assert a == b


def test_knn_no_global_cartesian_on_ring_phase(synth, spark, sf_dir):
    # phase-1 ring join must be a hash join on cell ids; the fallback
    # crossJoin only ever sees the unproven-query subset
    df = QUERIES["knn_grid"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_partition_pruning_on_stored_tables(synth, spark, sf_dir, tmp_path):
    """SURVEY §4's pushdown claim, tested: the materialized tables are
    partitioned by (p_date, p_cx); a bbox+date predicate must prune at the
    FILE level (PartitionFilters in the scan), and the pruned scan must
    return the same rows as the unpartitioned view."""
    work = str(tmp_path / "stored")
    catalog.materialize_synth(spark, sf_dir, work)
    try:
        stored = spark.read.parquet(f"{work}/scenes")
        q = stored.filter("p_date = '2024-01-05' AND p_cx = 6 AND xmin < 40")
        plan = _plan(q)
        scan = plan[plan.index("PartitionFilters") :][:300]
        assert "p_date" in scan and "p_cx" in scan
        # data predicate still pushed to parquet
        assert "PushedFilters: [" in plan and "xmin" in plan.split("PushedFilters")[1][:200]
        # pruned result == logical result on the derived view
        expected = spark.sql(
            "SELECT count(*) FROM scenes WHERE scene_date_str = '2024-01-05' "
            "AND floor((xmin + 180.0) / 30.0) = 6 AND xmin < 40"
        ).collect()[0][0]
        # note: 'scenes' now points at the stored table; recompute from synth
        assert q.count() == expected
        # physical evidence: the single partition directory alone holds all
        # matching rows (what the PartitionFilters restrict the scan to),
        # and it is a strict subset of the table's files
        import glob

        part_dir = f"{work}/scenes/p_date=2024-01-05/p_cx=6"
        assert spark.read.parquet(part_dir).filter("xmin < 40").count() == expected
        n_part = len(glob.glob(f"{part_dir}/*.parquet"))
        n_all = len(glob.glob(f"{work}/scenes/p_date=*/p_cx=*/*.parquet"))
        assert 0 < n_part < n_all
    finally:
        _restore_views(spark, sf_dir)


def _restore_views(spark, sf_dir) -> None:
    """Re-point the views at the on-the-fly synth derivations, so later
    tests in this session see the canonical schemas."""
    app = spark.sparkContext.applicationId
    catalog._MATERIALIZED.pop((app, sf_dir), None)
    catalog._active_synth.pop(app, None)
    catalog._register_views(spark, sf_dir)


@pytest.fixture(scope="module")
def stored(synth, spark, sf_dir, tmp_path_factory):
    """A work dir materialize_synth built under another name and that was
    then renamed, as perfbench builds its cache; the views are restored."""
    root = tmp_path_factory.mktemp("catalog")
    try:
        catalog.materialize_synth(spark, sf_dir, str(root / "a"))
        os.replace(root / "a", root / "b")
    finally:
        _restore_views(spark, sf_dir)
    return str(root / "b")


def _attach(spark, sf_dir, work) -> int:
    """Jobs launched attaching work's tables as a new application does."""
    app = spark.sparkContext.applicationId
    catalog._active_synth.pop(app, None)
    catalog._active_base.pop(app, None)
    catalog._MATERIALIZED[(app, sf_dir)] = work
    return jobs_launched(spark, lambda: catalog._register_views(spark, sf_dir))[1]


def _inferred(spark, sf_dir, work) -> dict:
    """view -> the schema spark.read.parquet infers from its files."""
    paths = {t: f"{sf_dir}/{t}.parquet" for t in catalog._BASE_TABLES}
    paths.update({n: os.path.join(work, n) for n in ALL_TABLES})
    return {v: spark.read.parquet(p).schema for v, p in paths.items()}


def _views(spark, names) -> dict:
    return {v: spark.table(v).schema for v in names}


def _digest(df) -> tuple:
    """(rows, order-independent sum of a 48-bit md5 prefix per row)."""
    h = F.conv(F.substring(F.md5(F.to_json(F.struct(*df.columns))), 1, 12), 16, 10).cast("long")
    return tuple(df.agg(F.count("*"), F.sum(h)).first())


def test_attach_from_catalog_launches_no_job(stored, spark, sf_dir):
    """A work dir with a catalog attaches with no Spark job: every view has
    the schema inference would give (partition columns typed), reads the
    renamed dir's files and the same rows, and the listing threshold is
    left as it was."""
    before = spark.conf.get(catalog._LISTING_THRESHOLD, None)
    try:
        assert _attach(spark, sf_dir, stored) == 0
        assert spark.conf.get(catalog._LISTING_THRESHOLD, None) == before
        inferred = _inferred(spark, sf_dir, stored)
        assert len(inferred) == 16 and _views(spark, inferred) == inferred
        for name in ("labels", "scenes", "media"):
            assert inferred[name]["p_date"].dataType == DateType()
            assert inferred[name]["p_cx"].dataType == IntegerType()
        for name in ALL_TABLES:
            files = [os.path.normpath(f.removeprefix("file:")) for f in spark.table(name).inputFiles()]
            assert files and all(f.startswith(stored + os.sep) for f in files), name
        for name in ("labels", "scenes"):
            assert _digest(spark.table(name)) == _digest(spark.read.parquet(os.path.join(stored, name)))
    finally:
        _restore_views(spark, sf_dir)


def test_attach_infers_what_the_catalog_lacks(stored, spark, sf_dir):
    """A view missing from the catalog, or a work dir with no catalog,
    takes the inference path and gets the same schemas."""
    catalog = os.path.join(stored, "_catalog.json")
    with open(catalog) as fh:
        saved = fh.read()
    try:
        inferred = _inferred(spark, sf_dir, stored)
        partial = json.loads(saved)
        del partial["labels"], partial["events"]
        with open(catalog, "w") as fh:
            json.dump(partial, fh)
        some = _attach(spark, sf_dir, stored)
        assert _views(spark, inferred) == inferred
        os.remove(catalog)
        every = _attach(spark, sf_dir, stored)
        assert _views(spark, inferred) == inferred
        assert 0 < some < every
    finally:
        with open(catalog, "w") as fh:
            fh.write(saved)
        _restore_views(spark, sf_dir)


def test_failed_materialize_leaves_no_catalog(stored, spark, sf_dir, tmp_path, monkeypatch):
    """The catalog is deleted first and written last: a materialize that
    raises midway leaves none, even over a work dir an earlier run left
    one in."""
    work = tmp_path / "w"
    work.mkdir()
    shutil.copy(os.path.join(stored, "_catalog.json"), work / "_catalog.json")
    try:
        with monkeypatch.context() as m:
            m.setitem(ALL_TABLES, "scenes", lambda d: "SELECT no_such_column FROM labels")
            with pytest.raises(AnalysisException):
                catalog.materialize_synth(spark, sf_dir, str(work))
        assert (work / "labels").is_dir()  # it wrote a table before it raised
        assert not (work / "_catalog.json").exists()
    finally:
        _restore_views(spark, sf_dir)


def _stored_scans(spark, work, fn) -> dict:
    """{stored table: SQL executions that ran a job fn launched and whose
    physical plan scans that table's files under work}."""
    sq = spark._jsparkSession.sharedState().statusStore()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters

    def recent(k):  # the store keeps the latest executions, by id
        return list(conv.asJava(sq.executionsList(max(0, sq.executionsCount() - k), k)))

    last = max((e.executionId() for e in recent(1)), default=-1)
    _, jobs = job_ids_launched(spark, fn)
    scans = {t: 0 for t in ("labels", "scenes")}
    new = [e for e in recent(512) if e.executionId() > last]
    assert len(new) < 512
    for e in new:
        if not set(jobs) & {int(j) for j in conv.asJava(e.jobs().keySet())}:
            continue
        plan = e.physicalPlanDescription()
        for t in scans:
            scans[t] += os.path.join(work, t) in plan
    return scans


def test_cold_pass_reads_each_stored_table_once(stored, spark, sf_dir, duck, monkeypatch):
    """Planned and run cold over stored tables, the polygon overlap join and
    the tile coverage read `labels` and `scenes` from their files once each
    (one pull per table; every derived layer is pulled from memory); warm,
    they read neither. Over no byte cap both take the view path and still
    match their oracles."""
    from terrakit_spark.registry import ORACLES
    from tests.util import assert_match

    queries = ("polygon_overlap_join", "tile_label_coverage")
    run = lambda: [QUERIES[q](spark, sf_dir).count() for q in queries]  # noqa: E731
    try:
        assert _attach(spark, sf_dir, stored) == 0
        monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
        assert _stored_scans(spark, stored, run) == {"labels": 1, "scenes": 1}
        assert _stored_scans(spark, stored, run) == {"labels": 0, "scenes": 0}
        monkeypatch.setattr(sj, "INDEX_MAX_BYTES", 0)
        check = lambda: [assert_match(QUERIES[q](spark, sf_dir), duck, ORACLES[q]) for q in queries]  # noqa: E731
        scans = _stored_scans(spark, stored, check)
        assert scans["labels"] >= 2 and scans["scenes"] >= 1, scans
    finally:
        _restore_views(spark, sf_dir)


def test_cold_pass_builds_one_relation_per_stored_table(synth, spark, sf_dir, monkeypatch):
    """A cold polygon overlap join and tile coverage build one in-memory
    relation per stored table they read (`labels`, `scenes`); the layers
    derived from them are pulled as arrays only."""
    from pyspark.sql import SparkSession

    built, real = [], SparkSession.createDataFrame

    def spy(self, data, schema=None, *args, **kw):
        built.append(schema)
        return real(self, data, schema, *args, **kw)

    catalog._register_views(spark, sf_dir)
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    for q in ("polygon_overlap_join", "tile_label_coverage"):
        QUERIES[q](spark, sf_dir).count()
    assert built == [spark.table("labels").schema, spark.table("scenes").schema]


def test_spatial_join_pip_planning_jobs_cold_then_warm(synth, spark, sf_dir, monkeypatch):
    """Planned cold, spatial_join_pip runs adaptive_cell_deg's probe (one
    collect, which AQE runs as a job per stage) and the polygon pulls (the
    stored `labels` layer and the GeomIndex over its diamonds, one toArrow
    each); planned warm, it runs no job: all three sit in the plan memo."""
    monkeypatch.setattr(catalog, "_MEMO", OrderedDict())
    st = spark.sparkContext.statusTracker()
    plan = lambda: QUERIES["spatial_join_pip"](spark, sf_dir)  # noqa: E731
    _, cold = job_ids_launched(spark, plan)
    actions = [
        {st.getStageInfo(s).name.split(" at ")[0] for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)}
        for j in cold
    ]
    assert actions.count({"toArrow"}) == 2 and actions.count({"collect"}) == len(actions) - 2 > 0, actions
    assert job_ids_launched(spark, plan)[1] == []


def test_new_joins_are_equi_hash(synth, spark, sf_dir):
    """simhash banding, LSH buckets, IVF inverted lists, and the dedup
    cluster edges all join on equality keys — hash/merge joins, never a
    cartesian. (ann_ivf's codebook crossJoin is the one sanctioned
    broadcast-nested-loop: a fixed-size codebook against every vector.)"""
    for q in ("simhash_near_dup", "ann_lsh_bucketed"):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert any(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")), q
        assert "CartesianProduct" not in plan, q

    ivf = _plan(QUERIES["ann_ivf"](spark, sf_dir))
    # inverted-list probe join is an equi join; the codebook scan is the
    # only nested-loop and must be on the broadcast side
    assert any(j in ivf for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"))
    assert "CartesianProduct" not in ivf


def test_round3_queries_are_equi_hash(synth, spark, sf_dir):
    """Round-3 operators keep the no-cartesian discipline: the n-gram span
    join keys on the shingle hash, the LSH near-dup pair join on (table,
    bucket), the curvilinear clip's row/col-drop joins on (scene, y)/
    (scene, x), and the HLL register fill on (dom, grp, j)."""
    for q in (
        "duplicate_ngram_spans",
        "embedding_near_dup_lsh",
        "curvilinear_clip",
        "hll_distinct_tokens",
        "minhash_lsh_128",
    ):
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert any(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")), q
        assert "CartesianProduct" not in plan, q


def test_bucketed_join_avoids_shuffle(synth, spark, sf_dir, tmp_path):
    """Co-located joins via bucketing (SURVEY §4): two tables bucketBy the
    join key join WITHOUT an exchange on either side — the plan the big
    fact-fact joins want at 100 TB (pre-shuffled once at write time)."""
    import uuid

    from pyspark.sql import functions as F

    tag = uuid.uuid4().hex[:8]
    a, b = f"bk_scenes_{tag}", f"bk_stats_{tag}"
    scenes = spark.sql("SELECT scene_id, width, height, bands FROM scenes")
    stats = spark.sql("SELECT scene_id, xmin, ymax FROM scenes")
    for name, df in ((a, scenes), (b, stats)):
        df.write.bucketBy(8, "scene_id").sortBy("scene_id").mode("overwrite").saveAsTable(name)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(a).join(spark.table(b), "scene_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the join consumes bucketed scans directly: no Exchange anywhere
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == scenes.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_round4_queries_plan_shapes(synth, spark, sf_dir):
    """Round-4 operators keep the plan discipline: the contamination check
    joins distinct shingle hashes on equality (hash join, never cartesian);
    pii_scrub is one codegen scan with no join or exchange-heavy shape;
    k-means' only nested loop is the sanctioned fixed-K codebook cross
    join (8 broadcast rows per round) while its centroid updates are hash
    aggregates."""
    plan = _plan(QUERIES["contamination_check"](spark, sf_dir))
    assert any(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"))
    assert "CartesianProduct" not in plan

    pii = _plan(QUERIES["pii_scrub"](spark, sf_dir))
    assert "Join" not in pii and "*(1)" in pii  # one codegen'd scan, no join

    km = _plan(QUERIES["kmeans_embeddings"](spark, sf_dir))
    assert "CartesianProduct" not in km  # K-row side goes broadcast
    assert "HashAggregate" in km


def test_top_orders_is_take_ordered_not_global_window(synth, spark, sf_dir):
    """Top-10 must run as TakeOrderedAndProject (per-partition heaps, driver
    merge) — never a row_number() over an UNPARTITIONED window, which pulls
    every aggregated row into one partition before ranking (the round-4
    perf_weak item)."""
    plan = _plan(QUERIES["top_orders_window"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_sf_dir_switch_repoints_views(spark):
    """A session queried at one scale factor and then another must serve
    the second's tables — and switching BACK must restore the first's
    (regression: the ever-registered memo served sf0.1 synth views to an
    sf1 query; measured as an sf1 spatial join returning sf0.1 rows)."""
    from terrakit_spark.catalog import _register_views

    counts = {}
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.001"):
        _register_views(spark, d)
        counts.setdefault(d, set()).add(spark.table("media").count())
    a, b = counts["/root/testdata/sf0.001"], counts["/root/testdata/sf0.01"]
    assert len(a) == 1  # switching back restored the original tables
    assert a != b  # and the two scale factors genuinely differ


def test_bbox_prefilter_sits_below_arrow_refine(synth, spark, sf_dir):
    """The point-in-bbox prefilter must run JVM-side BEFORE the Arrow
    ray-cast: a cell is coarser than a polygon's bbox, so bbox-rejectable
    candidates must never pay the Arrow transfer (px, py, vertex array).
    Executed plans print top-down (root first), so the codegen bbox Filter
    must appear AFTER (= deeper than) the ArrowEvalPython node, and the
    Python-UDF filter node itself must not carry the bbox comparisons."""
    plan = _plan(QUERIES["spatial_join_pip"](spark, sf_dir))
    assert "ArrowEvalPython" in plan, plan[:2000]
    above, below = plan.split("ArrowEvalPython", 1)
    assert "xmin" in below and ">= xmin" in below.replace("#", " #").replace("L", ""), below[:3000]
    # the refine filter (pythonUDF result) is above; the bbox filter is not
    # folded into it
    assert "pythonUDF" in above, above[:2000]


def test_overlap_join_is_equi_hash_with_jvm_prefilters(synth, spark, sf_dir):
    """Polygon x polygon overlap: cell equi-join (never cartesian), and both
    the canonical-cell dedup and the bbox-overlap filter run JVM-side below
    the Arrow SAT refine."""
    plan = _plan(QUERIES["polygon_overlap_join"](spark, sf_dir))
    assert any(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    below = plan.split("ArrowEvalPython", 1)[1]
    assert "xmax_b" in below, below[:3000]  # bbox prefilter below the refine


def test_pyramid_is_pure_codegen_single_point_shuffle(synth, spark, sf_dir):
    # the pyramid must stay JVM-side (bit-shift column math, no Python) and
    # aggregate the raw points EXACTLY once — coarser levels roll up from
    # the level-12 tile table (explode of ancestors), not from re-scans
    plan = _plan(QUERIES["quadkey_pyramid"](spark, sf_dir))
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan
    # one scan feeds the whole pyramid: the raw points aggregate once, the
    # coarser levels cascade from that tile table instead of re-scanning
    scans = plan.count("Scan parquet") + plan.count("Scan ExistingRDD")
    assert scans <= 2  # the point scan (+ at most one synth-view scan)


def test_zonal_stats_shares_burn_join_shape(synth, spark, sf_dir):
    # zonal runs the same candidate machinery as burn_histogram: cell
    # equi-join, never a cartesian pairing of scenes x labels
    plan = _plan(QUERIES["zonal_stats"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-scene burn+stats kernel
    # scene_label_pairs emits each pair once by canonical cell: no distinct
    # aggregate (and its shuffle) over the (scene, label) pairs
    assert not re.search(r"HashAggregate\(keys=\[scene_id#\d+L?, label_id#", plan), plan
