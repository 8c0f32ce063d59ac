"""Label-layer operators (reference: transform/labels.py).

- labels_load: S1 vector-label scan + F11 ISO/compact date extraction +
  F12 class-id extraction (regex `_CLASS_(\\d+)_`, default 1 —
  /root/reference/terrakit/transform/labels.py:322-326) + F7 presence checks.
- grouped_bbox: A1 per-date envelope union — geometry -> bounds box per row,
  per-datetime union bounds, one output row per (datetime, labelclass)
  sharing the combined envelope
  (/root/reference/terrakit/transform/labels.py:363-413). Envelope of a
  union of boxes == min/max of the box bounds, so the whole operator is a
  groupBy aggregate + a distinct-classes join — no geometry library needed
  and fully shuffle-parallel (one partial-agg shuffle on `datetime`).
"""

from __future__ import annotations

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import D
from terrakit_spark.registry import register_sql


def _labels_load(dialect: str) -> str:
    d = D(dialect)
    tok = "regexp_extract(filename, 'label_(\\\\d{8})_', 1)" if dialect == "spark" else "regexp_extract(filename, 'label_(\\d{8})_', 1)"
    cls = "regexp_extract(filename, '_CLASS_(\\\\d+)_', 1)" if dialect == "spark" else "regexp_extract(filename, '_CLASS_(\\d+)_', 1)"
    return f"""
SELECT label_id,
       filename,
       {d.date_str(d.parse_date_token(tok))} AS date_extracted,
       CAST(coalesce(CAST(nullif({cls}, '') AS INT), 1) AS INT) AS class_extracted,
       CAST(datetime = {d.date_str(d.parse_date_token(tok))} AS INT) AS date_matches,
       cx - rx AS xmin, cy - ry AS ymin, cx + rx AS xmax, cy + ry AS ymax
FROM labels
"""


def _grouped_bbox(dialect: str) -> str:
    # identical text in both dialects — min/max aggregate + distinct join
    return """
SELECT dc.datetime, dc.labelclass, env.xmin, env.ymin, env.xmax, env.ymax
FROM (SELECT DISTINCT datetime, labelclass FROM labels) dc
JOIN (SELECT datetime,
             min(cx - rx) AS xmin, min(cy - ry) AS ymin,
             max(cx + rx) AS xmax, max(cy + ry) AS ymax
      FROM labels GROUP BY datetime) env
  ON dc.datetime = env.datetime
"""


def _label_tally(dialect: str) -> str:
    """A9 processed/failed tallies: rows whose filename date parses and whose
    class token is present count as processed (mirrors the {n}/{N} log
    tallies at /root/reference/terrakit/transform/labels.py:270-347)."""
    d = D(dialect)
    pat = "'label_(\\\\d{8})_CLASS_(\\\\d+)_'" if dialect == "spark" else "'label_(\\d{8})_CLASS_(\\d+)_'"
    return f"""
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN regexp_extract(filename, {pat}, 1) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_processed,
       CAST(sum(CASE WHEN regexp_extract(filename, {pat}, 1) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
FROM labels
"""


def _metadata_lookup(dialect: str) -> str:
    """S3/J5 — filename -> date lookup against a metadata.csv table
    (broadcast hash join on filename,
    /root/reference/terrakit/transform/labels.py:232-245). Labels missing
    from the metadata (or with malformed dates) fall back to filename
    extraction; the tally mirrors the reference's failure counting."""
    d = D(dialect)
    tok = (
        "regexp_extract(l.filename, 'label_(\\\\d{8})_', 1)"
        if dialect == "spark"
        else "regexp_extract(l.filename, 'label_(\\d{8})_', 1)"
    )
    meta = """
SELECT filename, datetime AS mdate FROM labels WHERE label_id % 2 = 0
UNION ALL
SELECT 'orphan_file.json' AS filename, '2024-13-99' AS mdate
"""
    valid_mdate = "m.mdate IS NOT NULL AND m.mdate >= '1950-01-01' AND m.mdate <= '2026-12-31' AND length(m.mdate) = 10 AND substr(m.mdate, 6, 2) <= '12'"
    return f"""
SELECT l.label_id,
       CASE WHEN {valid_mdate} THEN 'metadata' ELSE 'filename' END AS date_source,
       CASE WHEN {valid_mdate} THEN m.mdate
            ELSE {d.date_str(d.parse_date_token(tok))} END AS resolved_date
FROM labels l
LEFT JOIN ({meta}) m ON m.filename = l.filename
"""


register_sql("labels_load", _labels_load, tables=["labels"])
register_sql("grouped_bbox", _grouped_bbox, tables=["labels"])
register_sql("label_tally", _label_tally, tables=["labels"])
register_sql("metadata_lookup", _metadata_lookup, tables=["labels"])


def _wkb_roundtrip(spark, sf_dir):
    """S4 — WKB geometry exchange: diamond polygons serialized to OGC WKB
    (the shapefile contract's geometry column,
    /root/reference/terrakit/download/download_data.py:185-217) and parsed
    back; output is the decoded geometry's vertex count + envelope, which
    the oracle computes in closed form — any byte-level encode/decode
    defect breaks the roundtrip equality."""
    from pyspark.sql import functions as F

    from terrakit_spark.functions.wkb import wkb_decode_polygon, wkb_encode_polygon

    _register_views(spark, sf_dir)
    polys = spark.sql(
        "SELECT label_id, array(cx - rx, cy, cx, cy - ry, cx + rx, cy, cx, cy + ry) AS verts FROM labels"
    )
    dec = polys.select("label_id", wkb_decode_polygon(wkb_encode_polygon("verts")).alias("d"))
    return dec.select(
        "label_id",
        (F.size("d") / 2).cast("int").alias("n_pts"),
        F.round(F.array_min(F.expr("filter(d, (x, i) -> i % 2 = 0)")), 6).alias("env_xmin"),
        F.round(F.array_max(F.expr("filter(d, (x, i) -> i % 2 = 0)")), 6).alias("env_xmax"),
        F.round(F.array_min(F.expr("filter(d, (x, i) -> i % 2 = 1)")), 6).alias("env_ymin"),
        F.round(F.array_max(F.expr("filter(d, (x, i) -> i % 2 = 1)")), 6).alias("env_ymax"),
    )


def _wkb_oracle() -> str:
    from terrakit_spark.dialect import DUCK
    from terrakit_spark.registry import with_synth

    return with_synth(
        DUCK,
        """
SELECT label_id,
       CAST(4 AS INT) AS n_pts,
       round(cx - rx, 6) AS env_xmin,
       round(cx + rx, 6) AS env_xmax,
       round(cy - ry, 6) AS env_ymin,
       round(cy + ry, 6) AS env_ymax
FROM labels
""",
        tables=["labels"],
    )


from terrakit_spark.registry import register_df  # noqa: E402

register_df("wkb_roundtrip", _wkb_roundtrip, oracle=_wkb_oracle())


_SHP_FIELDS = [("label_id", "N", 12), ("datetime", "C", 10), ("labelclass", "N", 4), ("filename", "C", 64)]
_SHP_SCHEMA = (
    "label_id bigint, datetime string, labelclass int, filename string, "
    "xmin double, ymin double, xmax double, ymax double"
)


def _shp_roundtrip_batches(batches):
    import numpy as np
    import pandas as pd

    from terrakit_spark.sinks.shapefile import encode_dbf, encode_shp, read_shapefile_rows

    cols = ["label_id", "datetime", "labelclass", "filename", "xmin", "ymin", "xmax", "ymax"]
    for pdf in batches:
        if len(pdf) == 0:
            continue
        polys = [[np.asarray(v, dtype=np.float64).reshape(-1, 2)] for v in pdf["verts"]]
        rows = list(
            zip(
                (int(x) for x in pdf["label_id"]),
                pdf["datetime"],
                (int(x) for x in pdf["labelclass"]),
                pdf["filename"],
            )
        )
        shp, _shx = encode_shp(polys)
        dbf = encode_dbf(_SHP_FIELDS, rows)
        out = []
        for flat, (lid, dt, cls, fn) in read_shapefile_rows(shp, dbf):
            arr = np.asarray(flat, dtype=np.float64).reshape(-1, 2)
            out.append((lid, dt, cls, fn, arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max()))
        yield pd.DataFrame(out, columns=cols)


def _shp_roundtrip(spark, sf_dir):
    """S4 COMPLETE — full ESRI Shapefile container roundtrip: each Arrow
    batch of label polygons + attributes is serialized to in-memory
    .shp/.dbf payloads by the pure-struct codec
    (terrakit_spark/sinks/shapefile.py; the reference's gpd.read_file /
    gdf.to_file surface, /root/reference/terrakit/download/
    download_data.py:185-217, /root/reference/terrakit/transform/
    labels.py:97-131) and parsed back; the oracle computes the recovered
    envelope + attributes in closed form, so any framing defect (record
    headers, ring closure/orientation, dbf cell padding) breaks equality.
    Distributed: mapInPandas, one shapefile per Arrow batch, no driver
    involvement."""
    _register_views(spark, sf_dir)
    src = spark.sql(
        "SELECT label_id, datetime, labelclass, filename, "
        "array(cx - rx, cy, cx, cy - ry, cx + rx, cy, cx, cy + ry) AS verts FROM labels"
    )
    return src.mapInPandas(_shp_roundtrip_batches, _SHP_SCHEMA)


def _shp_oracle() -> str:
    from terrakit_spark.dialect import DUCK
    from terrakit_spark.registry import with_synth

    return with_synth(
        DUCK,
        """
SELECT label_id, datetime, labelclass, filename,
       cx - rx AS xmin, cy - ry AS ymin, cx + rx AS xmax, cy + ry AS ymax
FROM labels
""",
        tables=["labels"],
    )


register_df("shp_roundtrip", _shp_roundtrip, oracle=_shp_oracle())
