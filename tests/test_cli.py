"""Staged CLI end-to-end: labels -> download -> chip -> store over a tmp
working dir, with lineage and snapshot-resume on re-run."""

from __future__ import annotations

import json
import os

from terrakit_spark.cli import stage_chip, stage_download, stage_labels, stage_store
from terrakit_spark.plans.snapshots import SnapshotTable
from tests.util import executed_plan, jobs_launched


def test_cli_stages_end_to_end(synth, spark, sf_dir, tmp_path):
    wd = str(tmp_path / "wd")
    os.makedirs(wd)
    r1 = stage_labels(spark, sf_dir, wd)
    assert r1["labels_rows"] > 0 and r1["bbox_rows"] > 0

    r2 = stage_download(spark, sf_dir, wd)
    assert r2["matched_rows"] > 0

    r3 = stage_chip(spark, sf_dir, wd, scene_pred="(scene_id % 25) IN (15, 20)")
    assert r3["chips_rows"] > 0 and not r3["resumed"]
    assert os.path.exists(os.path.join(wd, "dataset_properties.json"))
    props = json.load(open(os.path.join(wd, "dataset_properties.json")))
    assert props["bands"] and all("mean" in b for b in props["bands"])

    # re-run: every matched date committed -> resumed without a Spark job
    r3b, jobs = jobs_launched(spark, lambda: stage_chip(spark, sf_dir, wd, scene_pred="(scene_id % 25) IN (15, 20)"))
    assert r3b == {"chips_rows": 0, "resumed": True} and jobs == 0

    r4 = stage_store(spark, sf_dir, wd)
    assert r4["dataset_rows"] == r3["chips_rows"]
    assert set(r4["splits"]) <= {"train", "validation", "test"}

    # lineage recorded per stage with step_order
    lin = SnapshotTable(os.path.join(wd, "chips")).lineage_df(spark).collect()
    assert [r.step for r in lin] == ["chip"]
    labels_lin = SnapshotTable(os.path.join(wd, "labels")).lineage_df(spark).collect()
    assert labels_lin[0].n_rows == r1["labels_rows"]


def test_chip_stage_reads_download_matches(synth, spark, sf_dir, tmp_path):
    """The chip stage chips only dates the download stage committed (here
    under a cloud-cover filter) and refuses to run before download."""
    import pytest

    from terrakit_spark import api

    pred = "(scene_id % 25) IN (15, 20)"
    with pytest.raises(SystemExit, match="download stage has not run"):
        stage_chip(spark, sf_dir, str(tmp_path / "empty"), scene_pred=pred)
    wd = str(tmp_path / "wd")
    api.download_data(spark, sf_dir, max_cloud_cover=30, working_dir=wd)
    matched = SnapshotTable(os.path.join(wd, "matched")).committed_partitions()
    assert stage_chip(spark, sf_dir, wd, scene_pred=pred)["chips_rows"] > 0
    chips = SnapshotTable(os.path.join(wd, "chips")).read(spark)
    assert {r[0] for r in chips.select("scene_date_str").distinct().collect()} <= matched


def test_cli_config_file_and_tifs(spark, sf_dir, tmp_path):
    """--config (YAML) supplies defaults, CLI flags override; --write-tifs
    materializes georeferenced chips at store time."""
    import glob
    import json as _json

    from terrakit_spark.cli import main

    wd = str(tmp_path / "wd")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"working-dir: {wd}\nsf-dir: {sf_dir}\n"
        'scene-pred: "(scene_id % 25) = 20"\nwrite-tifs: true\n'
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["pipeline", "--config", str(cfg)])
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["store"]["dataset_rows"] > 0
    tifs = glob.glob(f"{wd}/tifs/*.data.tif")
    assert tifs and len(glob.glob(f"{wd}/tifs/*.label.tif")) == len(tifs)

    # unknown config keys are rejected, not silently ignored
    bad = tmp_path / "bad.yaml"
    bad.write_text("workin-dir: /tmp/x\n")
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="unknown config keys"):
        main(["labels", "--config", str(bad)])


def _stage_frames(spark, sf_dir, dates):
    from terrakit_spark.cli import labels_frames, matched_frame
    from terrakit_spark.pipeline import matched_scenes

    return [
        *labels_frames(spark, sf_dir),
        matched_frame(spark, sf_dir),
        matched_scenes(spark, "true"),
        matched_scenes(spark, "true", matched_dates=dates),
    ]


def _run_stages(spark, sf_dir, wd) -> dict:
    out = {**stage_labels(spark, sf_dir, wd), **stage_download(spark, sf_dir, wd)}
    out.update(stage_chip(spark, sf_dir, wd, scene_pred="(scene_id % 25) IN (15, 20)"))
    for name, cols in (("matched", "*"), ("chips", "scene_id, win_index, label_mass")):
        rows = SnapshotTable(os.path.join(wd, name)).read(spark).selectExpr(*cols.split(", ")).collect()
        out[name] = sorted(map(tuple, rows))
    return out


def test_stage_frames_plan_over_pulled_layers(synth, spark, sf_dir, tmp_path, monkeypatch):
    """Index-sized layers: every stage input frame plans over the pulled
    rows (LocalTableScan) and reads no source file. Over the byte gate the
    scans come back, with the same schemas (the committed tables' evolution
    guard depends on them) and the same stage results."""
    from terrakit_spark.operators import spatial_join as sj

    pulled = _run_stages(spark, sf_dir, str(tmp_path / "pulled"))
    dates = sorted({r[0] for r in pulled["matched"]})
    frames = _stage_frames(spark, sf_dir, dates)
    for df in frames:
        plan = executed_plan(df)
        assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan
    monkeypatch.setattr(sj, "INDEX_MAX_BYTES", 0)
    scanned = _stage_frames(spark, sf_dir, dates)
    for df in scanned:
        plan = executed_plan(df)
        assert "LocalTableScan" not in plan and "Scan parquet" in plan, plan
    assert [df.schema for df in frames[:2]] == [df.schema for df in scanned[:2]]
    assert _run_stages(spark, sf_dir, str(tmp_path / "scanned")) == pulled
    assert pulled["labels_rows"] and pulled["matched_rows"] and pulled["chips_rows"]


def test_stages_pull_each_stored_layer_once(synth, spark, sf_dir, tmp_path, monkeypatch):
    """labels -> download -> chip in one application reads each stored
    layer from its source exactly once (one Arrow pull) and broadcasts only
    the chipper's label arrays; a second labels stage pulls nothing."""
    from terrakit_spark.catalog import release_layers

    pulls, broadcasts = [], []
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "broadcast", lambda v, real=sc.broadcast: broadcasts.append(v) or real(v))
    cls = type(spark.range(1))
    real = cls.toArrow

    def spy(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        layer = "labels" if "labelclass" in df.columns else "scenes" if "scene_id" in df.columns else None
        pulls.append((layer, "LocalRelation" not in plan))
        return real(df)

    release_layers(spark)
    monkeypatch.setattr(cls, "toArrow", spy)
    _run_stages(spark, sf_dir, str(tmp_path / "wd"))
    from_source = [layer for layer, source in pulls if source]
    assert sorted(from_source) == ["labels", "scenes"], pulls
    assert len(broadcasts) == 1 and set(broadcasts[0]) == {"cx", "cy", "rx", "ry", "cls"}
    pulls.clear()
    stage_labels(spark, sf_dir, str(tmp_path / "fresh"))
    assert pulls == []
