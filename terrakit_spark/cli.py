"""Staged CLI mirroring the reference's entry points
(/root/reference/terrakit/__main__.py:47-101: labels -> download -> chip ->
store, each stage validated, executed, and lineage-recorded). Here every
stage is one Spark job writing a snapshot-committed table under the working
dir and reading its predecessor's committed table (chip reads download's
matches and needs download to have run; store reads the chips); filename
conventions become key columns; re-runs resume from committed partitions
(the reference's file-presence idempotence upgraded to snapshot
checkpoints). The stored input layers (labels, scenes) come from the
application's pulled layers (`stored_layer`: read once, then served from
memory when they fit the driver); committed tables are read as before.

  python -m terrakit_spark labels   --sf-dir D --working-dir W
  python -m terrakit_spark download --sf-dir D --working-dir W
  python -m terrakit_spark chip     --sf-dir D --working-dir W [--scene-pred P] [--transforms t1,t2]
  python -m terrakit_spark store    --sf-dir D --working-dir W
  python -m terrakit_spark pipeline --sf-dir D --working-dir W   (all four)
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.operators.spatial_join import stored_layer
from terrakit_spark.plans.snapshots import SnapshotTable
from terrakit_spark.session import get_spark
from terrakit_spark.validate import validate_date_range

DEFAULT_PRED = "(scene_id % 25) = 0"


def _table(working_dir: str, name: str) -> SnapshotTable:
    return SnapshotTable(os.path.join(working_dir, name))


def labels_frames(spark: SparkSession, sf_dir: str) -> tuple:
    """(labels, grouped-bbox) frames — the single definition both the labels
    stage and api.process_labels plan from (transform/labels.py:477-591),
    over the application's pulled label layer."""
    _register_views(spark, sf_dir)
    layer = stored_layer(spark, "labels")
    labels = spark.sql(
        """
        SELECT label_id, geom_seq, datetime, labelclass, filename,
               cx, cy, rx, ry,
               cx - rx AS xmin, cy - ry AS ymin, cx + rx AS xmax, cy + ry AS ymax
        FROM {labels}
        """,
        labels=layer,
    )
    bboxes = spark.sql(
        """
        SELECT dc.datetime, dc.labelclass, env.xmin, env.ymin, env.xmax, env.ymax
        FROM (SELECT DISTINCT datetime, labelclass FROM {labels}) dc
        JOIN (SELECT datetime, min(cx - rx) AS xmin, min(cy - ry) AS ymin,
                     max(cx + rx) AS xmax, max(cy + ry) AS ymax
              FROM {labels} GROUP BY datetime) env
          ON dc.datetime = env.datetime
        """,
        labels=layer,
    )
    return labels, bboxes


def stage_labels(spark: SparkSession, sf_dir: str, working_dir: str, write_shp: bool = False) -> dict:
    """labels stage: load label layer + per-date grouped bboxes
    (transform/labels.py:477-591). write_shp additionally materializes the
    layer as ESRI Shapefiles (the reference's `*_labels.shp` save,
    transform/labels.py:360) via the distributed pure-struct codec."""
    labels, bboxes = labels_frames(spark, sf_dir)
    if write_shp:
        from terrakit_spark.sinks.shapefile import write_labels_shp

        # the stage semantic is "recommit": clear + rewrite so a resumed run
        # under a different partitioning never leaves stale stems behind
        write_labels_shp(labels, os.path.join(working_dir, "shp"), overwrite=True)
    s1 = _table(working_dir, "labels").commit(labels, step="labels", partition_col="datetime")
    s2 = _table(working_dir, "bboxes").commit(bboxes, step="labels_bboxes", partition_col="datetime")
    return {"labels_rows": s1.n_rows, "bbox_rows": s2.n_rows}


def matched_frame(spark: SparkSession, sf_dir: str, scene_filter: str = "true") -> "DataFrame":
    """J1 as-of matched table; scene_filter is the F2 cloud-cover pushdown
    seam (download_data.py:219-324). Plans over the application's pulled
    label and scene layers."""
    _register_views(spark, sf_dir)
    from terrakit_spark.pipeline import asof_matches

    return asof_matches(spark, scene_filter)


def stage_download(spark: SparkSession, sf_dir: str, working_dir: str, scene_filter: str = "true") -> dict:
    """download stage: as-of match label dates to scenes (J1) — the
    'queried data' table (download/download_data.py:219-324)."""
    matched = matched_frame(spark, sf_dir, scene_filter)
    snap = _table(working_dir, "matched").commit(matched, step="download_asof", partition_col="scene_date_str")
    return {"matched_rows": snap.n_rows}


def stage_chip(
    spark: SparkSession,
    sf_dir: str,
    working_dir: str,
    scene_pred: str = DEFAULT_PRED,
    transforms: list[str] | None = None,
) -> dict:
    """chip stage: burn + edge-clamped 256 windows + stats
    (chip/tiling.py:228-372) over the scenes of the download stage's
    committed matches (dates read on the driver, no as-of re-run), so chip
    requires download. Resumable by scene_date: dates with committed chips
    are dropped at the SCENES input, below the mapInPandas chipper."""
    from terrakit_spark.pipeline import chip_pipeline, dataset_stats, matched_scenes

    matched = _table(working_dir, "matched")
    if not matched.snapshots():
        raise SystemExit("download stage has not run")
    table = _table(working_dir, "chips")
    done = table.committed_partitions()
    dates = sorted(matched.committed_partitions() - done)
    if done and not dates:
        return {"chips_rows": 0, "resumed": True}  # every matched date is chipped: no job
    if done:
        _register_views(spark, sf_dir)
        if matched_scenes(spark, scene_pred, matched_dates=dates).limit(1).count() == 0:
            return {"chips_rows": 0, "resumed": True}
    chips = chip_pipeline(spark, sf_dir, scene_pred=scene_pred, transforms=transforms, matched_dates=dates)
    snap = table.commit(chips, step="chip", partition_col="scene_date_str")
    stats = dataset_stats(table.read(spark)).collect()
    props = {
        "dataset": "terrakit_spark_dataset",
        "bands": [
            {"band": r["band"], "n_px": r["n_px"], "mean": r["mean"], "std": r["std"]} for r in stats
        ],
    }
    with open(os.path.join(working_dir, "dataset_properties.json"), "w") as fh:
        json.dump(props, fh)  # K8 (chip/tiling.py:49-74)
    return {"chips_rows": snap.n_rows, "resumed": False}


def stage_store(spark: SparkSession, sf_dir: str, working_dir: str, write_tifs: bool = False) -> dict:
    """store stage: package chips with deterministic splits (store/taco.py);
    write_tifs additionally materializes every chip as a georeferenced
    .data.tif/.label.tif pair (K2/K3, geodata_utils.py:447-538)."""
    table = _table(working_dir, "chips")
    chips = table.read(spark)
    if chips is None:
        raise SystemExit("chip stage has not run")
    if write_tifs:
        from terrakit_spark.sinks.geotiff import chips_with_geo, write_chip_tifs

        _register_views(spark, sf_dir)
        write_chip_tifs(chips_with_geo(chips, spark.table("scenes")), os.path.join(working_dir, "tifs"))
    from terrakit_spark.operators.split import split_col

    key = F.col("scene_id") * 1000 + F.col("win_index")
    ds = chips.select(
        F.format_string("%d_%d.data.tif", "scene_id", "win_index").alias("file_path"),
        F.format_string("%d_%d.label.tif", "scene_id", "win_index").alias("label_file"),
        split_col(key).alias("data_split"),
        "scene_id",
        "win_index",
        "scene_date_str",
        "label_mass",
    )
    snap = _table(working_dir, "dataset").commit(ds, step="store", partition_col="data_split")
    return {"dataset_rows": snap.n_rows, "splits": snap.partition_rows}


STAGES = {
    "labels": stage_labels,
    "download": stage_download,
    "chip": stage_chip,
    "store": stage_store,
}


def _load_config(path: str) -> dict:
    """--config file (YAML or JSON), the reference's jsonargparse-style
    entry point (/root/reference/terrakit/__main__.py:54): keys are the
    long flag names (dashes or underscores); explicit CLI flags override."""
    with open(path) as fh:
        text = fh.read()
    try:
        import yaml  # type: ignore

        cfg = yaml.safe_load(text)
    except ImportError:
        cfg = json.loads(text)
    if not isinstance(cfg, dict):
        raise SystemExit(f"terrakit_spark: config {path} must be a mapping")
    return {str(k).replace("-", "_"): v for k, v in cfg.items()}


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="terrakit_spark")
    p.add_argument("stage", choices=[*STAGES, "pipeline"])
    p.add_argument("--config", default=None, help="YAML/JSON file of flag defaults")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--working-dir", default=None)
    p.add_argument("--scene-pred", default=DEFAULT_PRED)
    p.add_argument("--transforms", default="")
    p.add_argument("--date-start", default="2024-01-01")
    p.add_argument("--date-end", default="2024-12-31")
    p.add_argument("--write-tifs", action="store_true")
    p.add_argument("--write-shp", action="store_true")
    p.add_argument("--master", default=None)
    pre, _ = p.parse_known_args(argv)
    if pre.config:
        cfg = _load_config(pre.config)
        known = {a.dest for a in p._actions}
        unknown = set(cfg) - known
        if unknown:
            raise SystemExit(f"terrakit_spark: unknown config keys: {sorted(unknown)}")
        p.set_defaults(**cfg)
    args = p.parse_args(argv)
    if not args.working_dir:
        raise SystemExit("terrakit_spark: --working-dir is required (flag or config)")

    from terrakit_spark.validate import ValidationError

    try:
        validate_date_range(args.date_start, args.date_end)
    except ValidationError as exc:
        raise SystemExit(f"terrakit_spark: invalid arguments: {exc}") from None
    os.makedirs(args.working_dir, exist_ok=True)
    spark = get_spark(master=args.master)
    transforms = [t for t in args.transforms.split(",") if t]

    def run(stage: str) -> dict:
        if stage == "chip":
            return stage_chip(spark, args.sf_dir, args.working_dir, args.scene_pred, transforms)
        if stage == "store":
            return stage_store(spark, args.sf_dir, args.working_dir, write_tifs=args.write_tifs)
        if stage == "labels":
            return stage_labels(spark, args.sf_dir, args.working_dir, write_shp=args.write_shp)
        return STAGES[stage](spark, args.sf_dir, args.working_dir)

    stages = [*STAGES] if args.stage == "pipeline" else [args.stage]
    out = {s: run(s) for s in stages}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
