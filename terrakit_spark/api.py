"""Function-level Python API mirroring the reference's four entry points,
so a user of the reference can switch call sites one-for-one:

  process_labels       /root/reference/terrakit/transform/labels.py:477-591
  download_data        /root/reference/terrakit/download/download_data.py:506-643
  chip_and_label_data  /root/reference/terrakit/chip/tiling.py:441-520
  taco_store_data      /root/reference/terrakit/store/taco.py:204-255

Differences are the distributed substrate, not the semantics: inputs are
Spark tables instead of file folders, outputs are DataFrames (lazily
planned) instead of files, and passing working_dir opts into the
snapshot-committed persistence the CLI stages use (the reference's
file-on-disk inter-stage IR upgraded to tables with lineage). The
``active`` flags mirror the reference's per-stage on/off switches
(each stage returns immediately when active=False)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def process_labels(
    spark: SparkSession,
    sf_dir: str,
    dataset_name: str = "terrakit_curated_dataset",
    working_dir: str | None = None,
    active: bool = True,
    write_shp: bool = False,
) -> tuple[DataFrame, DataFrame] | None:
    """Load the label layer and its per-date grouped bboxes — the
    reference's (labels_gdf, grouped_boxes_gdf) return contract
    (transform/labels.py:591). write_shp mirrors the `*_labels.shp` save
    through the pure-struct shapefile sink."""
    if not active:
        return None
    if working_dir:
        # One computation: the stage plans via the shared labels_frames and
        # commits; the returned frames ARE the committed tables (no drift
        # between the return value and the persisted snapshot).
        from terrakit_spark.cli import _table, stage_labels

        stage_labels(spark, sf_dir, working_dir, write_shp=write_shp)
        return _table(working_dir, "labels").read(spark), _table(working_dir, "bboxes").read(spark)
    from terrakit_spark.cli import labels_frames

    return labels_frames(spark, sf_dir)


def download_data(
    spark: SparkSession,
    sf_dir: str,
    dataset_name: str = "terrakit_curated_dataset",
    working_dir: str | None = None,
    active: bool = True,
    max_cloud_cover: int | None = 80,
) -> DataFrame | None:
    """The as-of matched 'queried data' table (J1): label dates matched to
    scene dates within [d, d+post_days], first-minimum tie-break
    (download_data.py:219-324). max_cloud_cover is applied to the scene
    side BEFORE matching — the F2 cloud-cover predicate, same synthetic
    proxy as the connector registry (scene_id % 100 as cc,
    sources/registry.py:101). Pass None to disable the filter."""
    if not active:
        return None
    scene_filter = "true" if max_cloud_cover is None else f"(scene_id % 100) < {int(max_cloud_cover)}"
    if working_dir:
        from terrakit_spark.cli import _table, stage_download

        stage_download(spark, sf_dir, working_dir, scene_filter=scene_filter)
        return _table(working_dir, "matched").read(spark)
    from terrakit_spark.cli import matched_frame

    return matched_frame(spark, sf_dir, scene_filter)


def chip_and_label_data(
    spark: SparkSession,
    sf_dir: str,
    dataset_name: str = "terrakit_curated_dataset",
    working_dir: str | None = None,
    active: bool = True,
    scene_pred: str = "true",
    transforms: list[str] | None = None,
    stats: bool = True,
) -> tuple[DataFrame, DataFrame | None] | None:
    """Burn + edge-clamped 256-window chipping of data and label cubes with
    the SAME window list (chip/tiling.py:298-345), returning (chips,
    dataset_stats or None) — the reference's chip list + stats-roundtrip
    pair (K8). With working_dir this runs the chip stage, which chips the
    scenes of that dir's committed download matches: call
    download_data(..., working_dir=working_dir) first (SystemExit if not)."""
    if not active:
        return None
    from terrakit_spark.pipeline import chip_pipeline, dataset_stats

    if working_dir:
        # Chip once inside the stage (which also writes the stats side-car)
        # and hand back the committed table — not a second chip_pipeline run.
        from terrakit_spark.cli import _table, stage_chip

        stage_chip(spark, sf_dir, working_dir, scene_pred, transforms)
        chips = _table(working_dir, "chips").read(spark)
    else:
        chips = chip_pipeline(spark, sf_dir, scene_pred=scene_pred, transforms=transforms)
    return chips, (dataset_stats(chips) if stats else None)


def taco_store_data(
    spark: SparkSession,
    chips: DataFrame,
    dataset_name: str = "terrakit_curated_dataset",
    active: bool = True,
) -> DataFrame | None:
    """Package chips with deterministic train/validation/test splits — the
    tortilla/taco container replaced by a dataset table with a data_split
    column (store/taco.py:69-201; split discipline 64/16/20, values
    'train'/'validation'/'test' exactly as the reference emits them,
    store/taco.py:103-107). Bucketing goes through the overflow-safe
    split_col helper so the 64/16/20 discipline holds at any corpus
    scale (see operators/split.py)."""
    if not active:
        return None
    from pyspark.sql import functions as F

    from terrakit_spark.operators.split import split_col

    key = F.col("scene_id") * 1000 + F.col("win_index")
    return chips.select(
        F.format_string("%d_%d.data.tif", "scene_id", "win_index").alias("file_path"),
        F.format_string("%d_%d.label.tif", "scene_id", "win_index").alias("label_file"),
        split_col(key).alias("data_split"),
        "scene_id",
        "win_index",
        "scene_date_str",
        "label_mass",
    )
