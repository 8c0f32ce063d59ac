"""Flagship pipeline: interleaved documents -> media spans -> cell-indexed
ray-cast spatial join vs the polygon label layer -> per-document rollup,
carrying the span-sequence invariant (BASELINE.json input_hint: the
offset-ordered (kind, text, media_ref) sequence must survive every
operator — verified here as an md5 over the reassembled sequence)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK
from terrakit_spark.operators.spatial_join import _diamond_polys
from terrakit_spark.operators.spatial_join import _ORACLE as _PAIRS_ORACLE  # noqa: F401
from terrakit_spark.operators.spatial_join import cell_pip_join
from terrakit_spark.registry import register_df, with_synth

_SPAN_MD5_SPARK = """
SELECT doc_id,
       md5(concat_ws(',', transform(
            array_sort(collect_list(struct(offset, kind, text, media_ref))),
            s -> concat(s.kind, '|', s.text, '|', s.media_ref, '|', CAST(s.offset AS STRING))
       ))) AS span_md5
FROM spans GROUP BY doc_id
"""


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    points = spark.table("media").select("doc_id", "media_ref", "mx", "my")
    polys = _diamond_polys(spark).select("label_id", "xmin", "ymin", "xmax", "ymax", "vertices")
    pairs = cell_pip_join(points, polys).select("doc_id", "label_id")
    per_doc_matches = pairs.groupBy("doc_id").agg(F.count("*").alias("n_matches"))
    per_doc_media = spark.table("media").groupBy("doc_id").agg(F.count("*").alias("n_media"))
    span_md5 = spark.sql(_SPAN_MD5_SPARK)
    return (
        span_md5.join(per_doc_media, "doc_id", "left")
        .join(per_doc_matches, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_media", F.lit(0)).alias("n_media"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "span_md5",
        )
    )


_FLAGSHIP_ORACLE = with_synth(
    DUCK,
    """
SELECT s.doc_id,
       coalesce(pm.n_media, 0) AS n_media,
       coalesce(px.n_matches, 0) AS n_matches,
       s.span_md5
FROM (SELECT doc_id,
             md5(string_agg(kind || '|' || text || '|' || media_ref || '|' || CAST("offset" AS VARCHAR),
                            ',' ORDER BY "offset")) AS span_md5
      FROM spans GROUP BY doc_id) s
LEFT JOIN (SELECT doc_id, count(*) AS n_media FROM media GROUP BY doc_id) pm
  ON pm.doc_id = s.doc_id
LEFT JOIN (
  SELECT p.doc_id, count(*) AS n_matches
  FROM (SELECT doc_id, media_ref, mx, my,
               CAST(floor(mx + 1.8e2) AS BIGINT) AS cell_x,
               CAST(floor(my + 9.0e1) AS BIGINT) AS cell_y
        FROM media) p
  JOIN (SELECT label_id, cx, cy, rx, ry,
               unnest(generate_series(CAST(floor(cy - ry + 9.0e1) AS BIGINT),
                                      CAST(floor(cy + ry + 9.0e1) AS BIGINT))) AS cell_y,
               cell_x
        FROM (SELECT label_id, cx, cy, rx, ry,
                     unnest(generate_series(CAST(floor(cx - rx + 1.8e2) AS BIGINT),
                                            CAST(floor(cx + rx + 1.8e2) AS BIGINT))) AS cell_x
              FROM labels) _lx) l
    ON p.cell_x = l.cell_x AND p.cell_y = l.cell_y
  WHERE abs(p.mx - l.cx) / l.rx + abs(p.my - l.cy) / l.ry < 1
  GROUP BY p.doc_id
) px ON px.doc_id = s.doc_id
""",
    tables=["labels", "media", "spans"],
)

register_df("flagship_doc_rollup", flagship, oracle=_FLAGSHIP_ORACLE)
