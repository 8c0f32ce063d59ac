"""W2 patch extraction + A3 per-band statistics over raster chips.

- chip_stats: the reference's partial/final aggregation — per-tile per-band
  sum and sum(x^2) over pixels (/root/reference/terrakit/chip/tiling.py:313-319),
  finalized as mean = Sx/N, var = Sx2/N - mean^2
  (/root/reference/terrakit/chip/tiling.py:353-362). Partials are computed
  inside an Arrow batch UDF as EXACT int64 sums (pixel values are integers),
  the final mean/std are Spark SQL expressions — so both stages match the
  DuckDB closed-form oracle bit-for-bit. Stats here are over valid
  (non-nodata) pixels; the reference's quirky variant (pixel_count taken
  from the LAST image, /root/reference/terrakit/chip/tiling.py:359) is
  reproduced separately in dataset_stats_quirk (pytest-verified).

- chip_patch_sums: per-window patch extraction parity. Each (scene, window)
  patch is sliced from the materialized pixel cube with the edge-clamped
  window rule; windows overrunning the raster are clipped to the raster
  (rasterio reads the intersection for non-boundless windows — the 10x10
  dummy.tif yields its full 10x10 as the single chip,
  /root/reference/tests/component_tests/chip/test_chip_and_label.py:100-115).
  The per-band int64 sum of every patch must equal the SQL oracle's sum over
  the same pixel ranges.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK, SPARK
from terrakit_spark.registry import register_df, with_synth
from terrakit_spark.sources.raster import scene_pixels, with_pixels
from terrakit_spark.synth import CHIP, NODATA_EVERY, PIXEL_BASE, PIXEL_MOD

# oracle-tractable scene subsets
SMALL_PRED_SQL = "(scene_id % 25) IN (15, 20)"  # dims (10,10) and (64,48)
SPARSE_PRED_SQL = "(scene_id % 250) = 0"  # every 50th scene, all dim shapes


def _band_partials(scenes_px: DataFrame) -> DataFrame:
    """(scene, band) -> exact int64 (n_valid, n_nodata, px_sum, px_sumsq)."""

    def agg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, nb, h, w, buf in zip(
                pdf["scene_id"], pdf["bands"], pdf["height"], pdf["width"], pdf["pixels"]
            ):
                cube = np.frombuffer(buf, dtype=np.float32).reshape(int(nb), int(h), int(w))
                for b in range(int(nb)):
                    band = cube[b].astype(np.int64)
                    valid = band != -9999
                    v = band[valid]
                    rows.append(
                        (
                            int(sid),
                            b,
                            int(valid.sum()),
                            int((~valid).sum()),
                            int(v.sum()),
                            int((v * v).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["scene_id", "band", "n_valid", "n_nodata", "px_sum", "px_sumsq"]
            )

    return scenes_px.mapInPandas(
        agg, schema="scene_id long, band int, n_valid long, n_nodata long, px_sum long, px_sumsq long"
    )


def chip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    scenes = spark.sql(f"SELECT scene_id, bands, width, height FROM scenes WHERE {SMALL_PRED_SQL}")
    partials = _band_partials(with_pixels(scenes))
    # finalize with SQL expressions textually identical to the oracle
    partials.createOrReplaceTempView("_chip_partials")
    return spark.sql(_STATS_FINAL_SQL)


_STATS_FINAL_SQL = """
SELECT scene_id, band, n_valid, n_nodata, px_sum, px_sumsq,
       round(px_sum / n_valid, 6) AS mean_r,
       round(sqrt(px_sumsq / n_valid - (px_sum / n_valid) * (px_sum / n_valid)), 6) AS std_r
FROM _chip_partials
"""

_STATS_ORACLE = with_synth(
    DUCK,
    f"""
SELECT scene_id, band, n_valid, n_nodata, px_sum, px_sumsq,
       round(px_sum / n_valid, 6) AS mean_r,
       round(sqrt(px_sumsq / n_valid - (px_sum / n_valid) * (px_sum / n_valid)), 6) AS std_r
FROM (
  SELECT scene_id, band,
         CAST(sum(CASE WHEN v <> -9999 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         CAST(sum(CASE WHEN v = -9999 THEN 1 ELSE 0 END) AS BIGINT) AS n_nodata,
         CAST(sum(CASE WHEN v <> -9999 THEN v ELSE 0 END) AS BIGINT) AS px_sum,
         CAST(sum(CASE WHEN v <> -9999 THEN v * v ELSE 0 END) AS BIGINT) AS px_sumsq
  FROM (
    SELECT scene_id, band, y,
           CASE WHEN (scene_id + band + y * width + x) % {NODATA_EVERY} = 0 THEN -9999
                ELSE (scene_id * 7 + band * 13 + y * 31 + x * 17) % {PIXEL_MOD} + {PIXEL_BASE} END AS v
    FROM (
      SELECT scene_id, width, band, y, unnest(generate_series(0, CAST(width - 1 AS BIGINT))) AS x
      FROM (
        SELECT scene_id, width, band, unnest(generate_series(0, CAST(height - 1 AS BIGINT))) AS y
        FROM (
          SELECT scene_id, width, height, unnest(generate_series(0, CAST(bands - 1 AS BIGINT))) AS band
          FROM scenes WHERE {SMALL_PRED_SQL}
        ) _sb
      ) _sy
    ) _sx
  ) _px
  GROUP BY scene_id, band
) _agg
""",
    tables=["scenes"],
)


def chip_patch_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract every edge-clamped window patch and emit exact per-band sums."""
    _register_views(spark, sf_dir)
    scenes = spark.sql(f"SELECT scene_id, bands, width, height FROM scenes WHERE {SPARSE_PRED_SQL}")

    def chipper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, nb, h, w, buf in zip(
                pdf["scene_id"], pdf["bands"], pdf["height"], pdf["width"], pdf["pixels"]
            ):
                nb, h, w = int(nb), int(h), int(w)
                cube = np.frombuffer(buf, dtype=np.float32).reshape(nb, h, w)
                xs = [min(x, w - CHIP) if x + CHIP > w else x for x in range(0, w, CHIP)]
                ys = [min(y, h - CHIP) if y + CHIP > h else y for y in range(0, h, CHIP)]
                win_index = 0
                for x in xs:
                    for y in ys:
                        # rasterio non-boundless read: clip window to raster
                        x0, y0 = max(x, 0), max(y, 0)
                        x1, y1 = min(x + CHIP, w), min(y + CHIP, h)
                        patch = cube[:, y0:y1, x0:x1].astype(np.int64)
                        for b in range(nb):
                            rows.append(
                                (
                                    int(sid),
                                    win_index,
                                    b,
                                    int(x),
                                    int(y),
                                    patch.shape[2],
                                    patch.shape[1],
                                    int(patch[b].sum()),
                                )
                            )
                        win_index += 1
            yield pd.DataFrame(
                rows,
                columns=["scene_id", "win_index", "band", "win_x", "win_y", "patch_w", "patch_h", "patch_sum"],
            )

    return with_pixels(scenes).mapInPandas(
        chipper,
        schema="scene_id long, win_index int, band int, win_x int, win_y int, patch_w int, patch_h int, patch_sum long",
    )


def _patch_sums_oracle() -> str:
    c = CHIP
    return with_synth(
        DUCK,
        f"""
SELECT g.scene_id, g.win_index, px.band,
       g.win_x, g.win_y,
       CAST(least(g.win_x + {c}, g.width) - greatest(g.win_x, 0) AS INT) AS patch_w,
       CAST(least(g.win_y + {c}, g.height) - greatest(g.win_y, 0) AS INT) AS patch_h,
       CAST(sum(px.v) AS BIGINT) AS patch_sum
FROM (
  SELECT scene_id, width, height,
         CAST((x // {c}) * ((height - 1) // {c} + 1) + (y // {c}) AS INT) AS win_index,
         CAST(CASE WHEN x + {c} > width THEN width - {c} ELSE x END AS INT) AS win_x,
         CAST(CASE WHEN y + {c} > height THEN height - {c} ELSE y END AS INT) AS win_y
  FROM (SELECT scene_id, width, height, x, unnest(generate_series(0, CAST(height - 1 AS BIGINT), {c})) AS y
        FROM (SELECT scene_id, width, height, unnest(generate_series(0, CAST(width - 1 AS BIGINT), {c})) AS x
              FROM scenes WHERE {SPARSE_PRED_SQL}) _sx) _sy
) g
JOIN (
  SELECT scene_id, band, y, x,
         CASE WHEN (scene_id + band + y * width + x) % {NODATA_EVERY} = 0 THEN -9999
              ELSE (scene_id * 7 + band * 13 + y * 31 + x * 17) % {PIXEL_MOD} + {PIXEL_BASE} END AS v
  FROM (
    SELECT scene_id, width, band, y, unnest(generate_series(0, CAST(width - 1 AS BIGINT))) AS x
    FROM (SELECT scene_id, width, band, unnest(generate_series(0, CAST(height - 1 AS BIGINT))) AS y
          FROM (SELECT scene_id, width, height, unnest(generate_series(0, CAST(bands - 1 AS BIGINT))) AS band
                FROM scenes WHERE {SPARSE_PRED_SQL}) _sb) _sy
  ) _px
) px
  ON px.scene_id = g.scene_id
 AND px.x >= greatest(g.win_x, 0) AND px.x < least(g.win_x + {c}, g.width)
 AND px.y >= greatest(g.win_y, 0) AND px.y < least(g.win_y + {c}, g.height)
GROUP BY g.scene_id, g.win_index, px.band, g.win_x, g.win_y, g.width, g.height
""",
        tables=["scenes"],
    )


register_df("chip_stats", chip_stats, oracle=_STATS_ORACLE)
register_df("chip_patch_sums", chip_patch_sums, oracle=_patch_sums_oracle())
