"""Staged CLI end-to-end: labels -> download -> chip -> store over a tmp
working dir, with lineage and snapshot-resume on re-run."""

from __future__ import annotations

import json
import os

from terrakit_spark.cli import stage_chip, stage_download, stage_labels, stage_store
from terrakit_spark.plans.snapshots import SnapshotTable
from tests.util import jobs_launched


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
