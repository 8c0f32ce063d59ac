"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship pipeline on /root/testdata/sf0.001.
queries()         — one entry per implemented operator from SURVEY.md §2.
oracle_sql()      — DuckDB-runnable equivalents (same deterministic synthetic
                    derivations, rendered in the DuckDB dialect).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import terrakit_spark.operators  # noqa: F401  (registers all operators)
from terrakit_spark.registry import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial join of interleaved-document media spans against the
    polygon label layer (cell index + ray-cast PIP), rolled up per doc."""
    from terrakit_spark.operators.flagship import flagship

    return flagship(spark, "/root/testdata/sf0.001")


# LRU rotation (round-5 verdict item 5): queries whose latest driver row is
# r4 go FIRST so the capped driver pass re-reaches them — led by the query
# whose code changed THIS round (tile_label_coverage: new closed-form
# oracle + rect-clip fast path; polygon_overlap_join: probe-driven salting;
# chip_pipeline_*: label path picked by the byte gate), then the untouched r4 cohort
# (similarity/ANN family first — its SQL was untouched in rounds 5 and 6),
# then the r5-green queries.
_PRIORITY = [
    # --- code changed in round 6 (re-prove after edit) ---
    "tile_label_coverage",  # NEW closed-form DuckDB oracle (was rows-only)
    "coverage_chip_selection",  # NEW this round (chunked clip kernel under it)
    "coverage_class_balance",  # NEW this round (exercises varying labelclass)
    "quadkey_pyramid",  # NEW this round (cascade-vs-direct cross-plan proof)
    "zonal_stats",  # NEW this round (burn-mask pixel-value stats)
    "burn_histogram",  # labelclass now varies: burn overwrite order load-bearing
    "burn_histogram_nodata",
    "polygon_overlap_join",  # salting now probe-driven
    "polygon_overlap_join_unsalted",  # same oracle: salt-invariance proof
    "spatial_join_pip",
    "chip_pipeline_full",  # label broadcast or join, by the byte gate
    "pipeline_summary_small",
    "dataset_package",  # r4 + tortilla fixture re-keyed this round
    "dataset_package_counts",
    "tortilla_index",
    "tortilla_read_back",
    # --- r4-only cohort (no r5 driver row; code untouched since) ---
    "ann_topk_quantized",
    "ann_lsh_bucketed",
    "ann_ivf",
    "ann_ivf_kmeans",
    "kmeans_embeddings",
    "kmeans_sizes",
    "simhash_table",
    "simhash_near_dup",
    "dedup_clusters",
    "dedup_clusters_star",
    "duplicate_ngram_spans",
    "token_budget_sample",
    "pii_scrub",
    "contamination_check",
    "flagship_doc_rollup",
    "raster_polygonize",
    "dataset_stats_quirk",
    "date_token_extract",
    "descriptive_stats",
    "distinct_dates",
    "domain_assign",
    "geo_scalars",
    "media_decode_features",
    "media_frame_sample",
    "media_resize",
    "pipeline_skip_zero",
    "pricing_summary",
    "region_rollup",
    "sessionize_events",
    "split_assign",
    "split_counts",
    "temporal_range_filter",
]


def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in _PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(ORACLES))
