"""End-to-end chipping pipeline consistency tests (chip counts vs the
window-grid oracle, label mass vs the burn histogram, stats finiteness)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from terrakit_spark.pipeline import chip_pipeline, dataset_stats, matched_scenes
from terrakit_spark.synth import CHIP

PRED = "(scene_id % 25) IN (15, 20) OR (scene_id % 125) = 0"


def test_chip_counts_match_window_grid(synth, sf_dir, spark):
    chips = chip_pipeline(spark, sf_dir, scene_pred=PRED).cache()
    ms = matched_scenes(spark, PRED)
    expected = ms.selectExpr(
        "scene_id",
        f"((width - 1) div {CHIP} + 1) * ((height - 1) div {CHIP} + 1) AS n",
    ).agg(F.sum("n")).collect()[0][0]
    got = chips.count()
    assert got == expected

    # chip_w is either CHIP or the full (small) raster width
    small = chips.filter(F.col("chip_w") != CHIP).select("chip_w", "chip_h").distinct().collect()
    for r in small:
        assert r.chip_w in (10, 64) and r.chip_h in (10, 48)


def test_label_mass_consistent_with_burn(synth, sf_dir, spark):
    from terrakit_spark.operators.rasterize import burn_histogram

    pred_small = "(scene_id % 25) IN (15, 20)"
    chips = chip_pipeline(spark, sf_dir, scene_pred=pred_small)
    mass = chips.groupBy("scene_id").agg(F.sum("label_mass").alias("mass"))
    hist = burn_histogram(spark, sf_dir)
    covered = (
        hist.filter("label_class > 0").groupBy("scene_id").agg(F.sum("n_px").alias("covered"))
    )
    # small scenes have a single window covering the full raster -> equal
    joined = mass.join(covered, "scene_id", "left").fillna(0, subset=["covered"])
    bad = joined.filter(F.col("mass") != F.col("covered")).count()
    assert bad == 0


def test_dataset_stats_sane(synth, sf_dir, spark):
    chips = chip_pipeline(spark, sf_dir, scene_pred="(scene_id % 25) = 15")
    stats = dataset_stats(chips).collect()
    assert len(stats) >= 1
    for r in stats:
        assert r.n_px > 0 and np.isfinite(r["mean"]) and np.isfinite(r["std"])


def test_zero_scene_guard(synth, sf_dir, spark):
    from terrakit_spark.pipeline import chip_pipeline, register_transform

    register_transform("zero_out", lambda cube: cube * 0)
    pred = "(scene_id % 25) = 15"
    normal = chip_pipeline(spark, sf_dir, scene_pred=pred).count()
    assert normal > 0
    zeroed = chip_pipeline(
        spark, sf_dir, scene_pred=pred, transforms=["zero_out"], skip_zero_scenes=True
    ).count()
    assert zeroed == 0


def test_labels_via_join_matches_broadcast(synth, spark, sf_dir, monkeypatch):
    """The non-broadcastable-labels path (cover-cell equi-join + per-scene
    collect_list, the path a 100 TB label layer takes) must produce the
    identical chip table as the broadcast path. The label layer's size picks
    the path, so a gate of 0 stands in for a layer too large to broadcast."""
    from terrakit_spark.operators import spatial_join as sj

    pred = "(scene_id % 25) IN (15, 20)"
    cols = ["scene_id", "win_index", "px_sum", "px_sumsq", "label_mass"]

    def rows():
        df = chip_pipeline(spark, sf_dir, scene_pred=pred).select(*cols)
        return sorted((r.scene_id, r.win_index, tuple(r.px_sum), tuple(r.px_sumsq), r.label_mass) for r in df.collect())

    broadcast = rows()
    monkeypatch.setattr(sj, "INDEX_MAX_BYTES", 0)
    assert rows() == broadcast and broadcast


def test_labels_via_auto_probes_size(synth, spark, sf_dir, monkeypatch):
    """The path is picked from the MEASURED label-side size: at a gate of 0
    the chip job must take the join path (asserted by the absence of any
    driver-side broadcast build) and still produce the identical chip table;
    under the default gate the small synthetic layer is broadcast."""
    from terrakit_spark.operators import spatial_join as sj

    pred = "(scene_id % 25) = 15"
    cols = ["scene_id", "win_index", "label_mass"]

    def rows():
        df = chip_pipeline(spark, sf_dir, scene_pred=pred).select(*cols)
        return sorted((r.scene_id, r.win_index, r.label_mass) for r in df.collect())

    pulls = _spy_pull(monkeypatch)
    expected = rows()
    # the default gate keeps the small synthetic layer on the broadcast path
    assert pulls and pulls[-1].bcast is not None
    # a zero gate forces the join path; prove it by making the broadcast
    # build unreachable
    monkeypatch.setattr(sj, "INDEX_MAX_BYTES", 0)
    monkeypatch.setattr(
        spark.sparkContext, "broadcast",
        lambda *_: (_ for _ in ()).throw(AssertionError("a gate of 0 built a broadcast")),
    )
    assert rows() == expected and expected


def _spy_pull(monkeypatch) -> list:
    """Record every Pulled chip_pipeline's label pull returns."""
    import terrakit_spark.pipeline as P

    pulls, real = [], P._pull

    def spy(*args):
        pulls.append(real(*args))
        return pulls[-1]

    monkeypatch.setattr(P, "_pull", spy)
    return pulls


def test_label_layer_pulled_once_per_application(synth, spark, sf_dir, monkeypatch):
    """A second chip_pipeline call in the same application launches no job
    (no label pull) and ships the same broadcast."""
    from tests.util import jobs_launched

    pulls = _spy_pull(monkeypatch)
    chip_pipeline(spark, sf_dir, scene_pred="(scene_id % 25) = 15")
    _, jobs = jobs_launched(spark, lambda: chip_pipeline(spark, sf_dir, scene_pred="(scene_id % 25) = 15"))
    assert jobs == 0
    first, second = (p.bcast._jbroadcast.id() for p in pulls)
    assert first == second
