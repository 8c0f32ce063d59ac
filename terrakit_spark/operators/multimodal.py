"""Multimodal media columns: images/audio/video as opaque binary with typed
metadata, processed by Arrow batch UDFs.

The container has no image/audio codecs, so the DECODE step is a
deterministic synthetic decoder (documented stub — the Spark-side plumbing:
schema, batch shape, partitioning, feature extraction is real and
oracle-checked). A real deployment swaps `_decode_patch` for
PIL/libav decode inside the same mapInPandas shape; `decode_real` raises
NotImplementedError to mark the seam.

- media_decode_features: media_ref -> 16x16 synthetic luminance patch ->
  (mean, min, max) features, exact-integer so the DuckDB oracle reproduces
  them in closed form.
- media_frame_sample: "video" media (every 3rd media span) -> deterministic
  frame indices (stride sampling), pure SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK, SPARK, D
from terrakit_spark.registry import register_df, register_sql, with_synth

PATCH = 16


def decode_real(media_bytes: bytes) -> np.ndarray:
    """Seam for a real decoder (PIL/libav not present in this container)."""
    raise NotImplementedError("real image/audio decode requires codec libraries")


def _decode_patch(doc_num: int, m: int) -> np.ndarray:
    """Deterministic stub decode: 16x16 uint8-range patch from the media
    identity. Mirrors synth pixel-formula style so SQL can reproduce it."""
    y = np.arange(PATCH, dtype=np.int64).reshape(-1, 1)
    x = np.arange(PATCH, dtype=np.int64).reshape(1, -1)
    return (doc_num * 31 + m * 17 + y * 7 + x * 3) % 256


def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    media = spark.table("media").select("media_ref", "doc_num", "m")

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                (
                    ref,
                    int(p.sum()),
                    int(p.min()),
                    int(p.max()),
                )
                for ref, p in (
                    (ref, _decode_patch(int(d), int(m)))
                    for ref, d, m in zip(pdf["media_ref"], pdf["doc_num"], pdf["m"])
                )
            ]
            yield pd.DataFrame(feats, columns=["media_ref", "px_sum", "px_min", "px_max"])

    return media.mapInPandas(featurize, schema="media_ref string, px_sum long, px_min long, px_max long")


_FEATURES_ORACLE = with_synth(
    DUCK,
    f"""
SELECT media_ref,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min,
       CAST(max(v) AS BIGINT) AS px_max
FROM (
  SELECT media_ref, (doc_num * 31 + m * 17 + y * 7 + x * 3) % 256 AS v
  FROM (
    SELECT media_ref, doc_num, m, y, unnest(generate_series(0, {PATCH - 1})) AS x
    FROM (SELECT media_ref, doc_num, m, unnest(generate_series(0, {PATCH - 1})) AS y FROM media) _my
  ) _mx
) _px GROUP BY media_ref
""",
    tables=["media"],
)

register_df("media_decode_features", media_decode_features, oracle=_FEATURES_ORACLE)


def _frame_sample(dialect: str) -> str:
    """Every 3rd media span is 'video' with n_frames = 8 + doc_num % 24;
    stride-sample ceil(n/4) frames: indices 0, 4, 8, ..."""
    d = D(dialect)
    nf = "(8 + (doc_num % 24))"
    if dialect == SPARK:
        frames = f"LATERAL VIEW explode(sequence(0, {nf} - 1, 4)) _f AS frame_idx"
        return f"""
SELECT media_ref, CAST({nf} AS INT) AS n_frames, CAST(frame_idx AS INT) AS frame_idx
FROM media {frames}
WHERE m % 3 = 0
"""
    return f"""
SELECT media_ref, CAST({nf} AS INT) AS n_frames,
       CAST(unnest(generate_series(0, {nf} - 1, 4)) AS INT) AS frame_idx
FROM media
WHERE m % 3 = 0
"""


register_sql("media_frame_sample", _frame_sample, tables=["media"])


RESIZED = 8


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing: decode -> nearest-neighbour downsample
    (16x16 -> 8x8, src index = floor(i * src/dst)) -> resized-patch stats.
    Same mapInPandas shape a PIL-backed resize drops into; the NN index
    math is exact so the oracle reproduces the resized pixels in SQL."""
    _register_views(spark, sf_dir)
    media = spark.table("media").filter("doc_num % 50 = 0").select("media_ref", "doc_num", "m")
    step = PATCH // RESIZED

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, d, m in zip(pdf["media_ref"], pdf["doc_num"], pdf["m"]):
                p = _decode_patch(int(d), int(m))[::step, ::step]
                rows.append((ref, RESIZED, RESIZED, int(p.sum()), int(p.min()), int(p.max())))
            yield pd.DataFrame(
                rows, columns=["media_ref", "rw", "rh", "px_sum", "px_min", "px_max"]
            )

    return media.mapInPandas(
        resize, schema="media_ref string, rw int, rh int, px_sum long, px_min long, px_max long"
    )


_RESIZE_ORACLE = with_synth(
    DUCK,
    f"""
SELECT media_ref,
       CAST({RESIZED} AS INT) AS rw, CAST({RESIZED} AS INT) AS rh,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min,
       CAST(max(v) AS BIGINT) AS px_max
FROM (
  SELECT media_ref,
         (doc_num * 31 + m * 17 + (y * {PATCH // RESIZED}) * 7 + (x * {PATCH // RESIZED}) * 3) % 256 AS v
  FROM (
    SELECT media_ref, doc_num, m, y, unnest(generate_series(0, {RESIZED - 1})) AS x
    FROM (SELECT media_ref, doc_num, m, unnest(generate_series(0, {RESIZED - 1})) AS y
          FROM media WHERE doc_num % 50 = 0) _my
  ) _mx
) _px GROUP BY media_ref
""",
    tables=["media"],
)

register_df("media_resize", media_resize, oracle=_RESIZE_ORACLE)
