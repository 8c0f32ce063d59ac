"""Scalar geo function library (SURVEY §2.8) as column expressions:

- lon_wrap: 0-360 <-> +/-180 normalization via lon - 360*floor((lon+180)/360)
  (/root/reference/terrakit/general_utils/geospatial_util.py:607-626 uses
  ((lon+180) % 360) - 180; the floor form is sign-safe in both dialects).
- pad_bbox: fractional padding
  (/root/reference/terrakit/download/geodata_utils.py:348-362).
- calculate_resolution: ellipsoidal metres-per-degree
  (/root/reference/terrakit/download/geodata_utils.py:271-294) — the
  truncated-series form used by the reference.
- date token extraction (F10): compact YYYYMMDD tokens from filenames,
  bounds-checked to [1950, now]
  (/root/reference/terrakit/general_utils/geospatial_util.py:754-822).
"""

from __future__ import annotations

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import SPARK, D
from terrakit_spark.registry import register_sql


def _geo_scalars(dialect: str) -> str:
    pad = "1.0e-1"
    # lon candidates deliberately include out-of-range values
    lon_raw = "(((scene_id * 37) % 720) - 360 + 2.5e-1)"
    wrap = f"({lon_raw} - 360 * floor(({lon_raw} + 180) / 360))"
    # metres per degree at latitude (truncated series, EPSG:4326)
    lat = "((ymin + ymax) / 2)"
    lat_rad = f"({lat} * pi() / 180)"
    m_per_deg_lat = f"(111132.92 - 559.82 * cos(2 * {lat_rad}) + 1.175 * cos(4 * {lat_rad}))"
    m_per_deg_lon = f"(111412.84 * cos({lat_rad}) - 93.5 * cos(3 * {lat_rad}))"
    return f"""
SELECT scene_id,
       round({wrap}, 6) AS lon_wrapped,
       round(xmin - (xmax - xmin) * {pad}, 6) AS padded_xmin,
       round(xmax + (xmax - xmin) * {pad}, 6) AS padded_xmax,
       round(ymin - (ymax - ymin) * {pad}, 6) AS padded_ymin,
       round(ymax + (ymax - ymin) * {pad}, 6) AS padded_ymax,
       round({m_per_deg_lat}, 4) AS m_per_deg_lat,
       round({m_per_deg_lon}, 4) AS m_per_deg_lon
FROM scenes
"""


def _date_token_extract(dialect: str) -> str:
    """F10 — full filename date-token extraction
    (/root/reference/terrakit/general_utils/geospatial_util.py:754-822):
    standalone 6/7/8-digit tokens (maximal digit runs), parsed as
    YYMMDD / YYYYDDD / YYYYMMDD, bounds-checked to [1950-01-01, today],
    with first/last/max/min preference over the valid tokens.

    Test filenames are derived per label (label_id % 5 variants) so the
    oracle exercises: each format alone, multiple competing tokens, and
    unparseable / out-of-range / too-long digit runs that must be skipped.
    """
    d = D(dialect)
    pat = "\\\\d+" if dialect == "spark" else "\\d+"
    # century rule matches C strptime %y: 00-68 -> 20xx, 69-99 -> 19xx
    tok8_from6 = "concat(CASE WHEN substring(tok, 1, 2) <= '68' THEN '20' ELSE '19' END, tok)"
    parsed = f"""CASE length(tok)
          WHEN 8 THEN {d.try_parse_8('tok')}
          WHEN 7 THEN {d.try_parse_7('tok')}
          WHEN 6 THEN {d.try_parse_8(tok8_from6)}
        END"""
    dt2 = d.date_add("dt", "(label_id % 61) - 30")
    fname = f"""CASE label_id % 5
       WHEN 0 THEN filename
       WHEN 1 THEN {d.fmt('scene_%s_x.tif', d.date_token7('dt'))}
       WHEN 2 THEN {d.fmt('img_%s.png', d.date_token6('dt'))}
       WHEN 3 THEN {d.fmt('a_%s_b_%s.nc', d.date_token('dt'), d.date_token(dt2))}
       ELSE {d.fmt('x99999999_%s_123456789_19400101.json', d.date_token('dt'))}
     END"""
    if dialect == "spark":
        explode = "LATERAL VIEW posexplode(runs) _e AS pos0, tok"
        tok_pos = "SELECT label_id, fname, pos0 + 1 AS pos, tok FROM f " + explode
    else:
        tok_pos = (
            "SELECT label_id, fname, unnest(runs) AS tok, "
            "unnest(generate_series(1, len(runs))) AS pos FROM f"
        )
    return f"""
WITH f AS (
  SELECT label_id, fname, {d.regexp_extract_all_expr('fname', pat)} AS runs
  FROM (SELECT label_id, dt, filename, {fname} AS fname FROM labels) _l
),
t AS (
  SELECT * FROM ({tok_pos}) _t WHERE length(tok) BETWEEN 6 AND 8
),
v AS (
  SELECT label_id, pos, tok, d FROM (SELECT label_id, pos, tok, {parsed} AS d FROM t) _p
  WHERE d IS NOT NULL AND d >= DATE '1950-01-01' AND d <= current_date
)
SELECT f.label_id, f.fname,
       CAST({d.arr_len('f.runs')} AS INT) AS n_digit_runs,
       CAST(count(v.tok) AS INT) AS n_valid,
       {d.date_str('min_by(v.d, v.pos)')} AS prefer_first,
       {d.date_str('max_by(v.d, v.pos)')} AS prefer_last,
       {d.date_str('max(v.d)')} AS prefer_max,
       {d.date_str('min(v.d)')} AS prefer_min
FROM f LEFT JOIN v ON f.label_id = v.label_id
GROUP BY f.label_id, f.fname, {d.arr_len('f.runs')}
"""


def _domain_assign(dialect: str) -> str:
    """J3 — containment + smallest-area argmin (the CORDEX-domain pick,
    /root/reference/terrakit/download/data_connectors/climate_data_store.py:134-234):
    for each scene center, find domains containing it and keep the
    smallest-area one."""
    # Bounds cast to DOUBLE: Spark and DuckDB infer different DECIMAL
    # precisions from the raw literals (DECIMAL(10,2) vs DECIMAL(9,2)),
    # which made domain_area's type — and the value hash — diverge.
    domains = """
SELECT domain,
       CAST(dxmin AS DOUBLE) AS dxmin, CAST(dymin AS DOUBLE) AS dymin,
       CAST(dxmax AS DOUBLE) AS dxmax, CAST(dymax AS DOUBLE) AS dymax
FROM (VALUES
  ('GLOBAL', -180.0, -90.0, 180.0, 90.0),
  ('WEST',   -180.0, -90.0,    0.0, 90.0),
  ('EAST',      0.0, -90.0,  180.0, 90.0),
  ('TROPICS', -180.0, -25.0, 180.0, 25.0),
  ('HOTSPOT',    8.0,  10.0,   16.0, 16.0),
  ('NORTHBOX', -60.0,  30.0,   60.0, 80.0)
) AS t(domain, dxmin, dymin, dxmax, dymax)
"""
    return f"""
SELECT scene_id, domain, domain_area FROM (
  SELECT s.scene_id, d.domain,
         (d.dxmax - d.dxmin) * (d.dymax - d.dymin) AS domain_area,
         row_number() OVER (
           PARTITION BY s.scene_id
           ORDER BY (d.dxmax - d.dxmin) * (d.dymax - d.dymin) ASC, d.domain ASC
         ) AS rn
  FROM (SELECT scene_id, (xmin + xmax) / 2 AS cx0, (ymin + ymax) / 2 AS cy0 FROM scenes) s
  JOIN ({domains}) d
    ON s.cx0 >= d.dxmin AND s.cx0 <= d.dxmax AND s.cy0 >= d.dymin AND s.cy0 <= d.dymax
) t WHERE rn = 1
"""


def _descriptive_stats(dialect: str) -> str:
    """A4 — mean/median/min/max/std/count
    (/root/reference/terrakit/general_utils/statistics.py:8-45), masked
    variant = pre-filter (non-error events)."""
    median = "percentile(value, 0.5)" if dialect == "spark" else "quantile_cont(value, 0.5)"
    # population std from exact sums, identical expression both engines
    return f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(value), 6) AS mean_v,
       round({median}, 6) AS median_v,
       round(min(value), 6) AS min_v,
       round(max(value), 6) AS max_v,
       round(sqrt(sum(value * value) / count(*) - avg(value) * avg(value)), 6) AS std_v
FROM events
WHERE event_type <> 'error'
GROUP BY event_type
"""


register_sql("geo_scalars", _geo_scalars, tables=["scenes"])
register_sql("date_token_extract", _date_token_extract, tables=["labels"])
register_sql("domain_assign", _domain_assign, tables=["scenes"])
register_sql("descriptive_stats", _descriptive_stats, tables=[])


def _quadkey_query(spark, sf_dir):
    """Hierarchical quadkey cells (the H3/S2 role): level-12 Z-order cell id
    for each media point, its level-6 parent (pure shift), and the base-4
    tile-address string — all whole-stage-codegen column math
    (functions/cells.py); the oracle replicates the bit interleave in SQL."""
    from pyspark.sql import functions as F

    from terrakit_spark.functions.cells import QK_LEVEL, quadkey, quadkey_parent, quadkey_str

    _register_views(spark, sf_dir)
    pts = spark.table("media").filter("doc_num % 20 = 0").select("media_ref", "mx", "my")
    qk = quadkey(F.col("mx"), F.col("my"))
    return pts.select(
        "media_ref",
        qk.alias("qk12"),
        quadkey_parent(qk, QK_LEVEL, 6).alias("qk6"),
        quadkey_str(qk).alias("tile_addr"),
    )


def _quadkey_oracle() -> str:
    from terrakit_spark.dialect import DUCK
    from terrakit_spark.functions.cells import QK_LEVEL
    from terrakit_spark.registry import with_synth

    d = D(DUCK)
    nx = 1 << QK_LEVEL
    terms = []
    for b in range(QK_LEVEL):
        xbit = "(" + d.shiftright("cx", str(b)) + " % 2)"
        ybit = "(" + d.shiftright("cy", str(b)) + " % 2)"
        terms.append(d.shiftleft(xbit, str(2 * b + 1)) + " + " + d.shiftleft(ybit, str(2 * b)))
    bits = " + ".join(terms)
    digit_parts = []
    for i in range(QK_LEVEL):
        sh = d.shiftright("qk12", str(2 * (QK_LEVEL - 1 - i)))
        digit_parts.append("CAST((" + sh + " % 4) AS VARCHAR)")
    digits = ", ".join(digit_parts)
    return with_synth(
        DUCK,
        f"""
SELECT media_ref, qk12, {d.shiftright('qk12', str(2 * (QK_LEVEL - 6)))} AS qk6,
       concat({digits}) AS tile_addr
FROM (
  SELECT media_ref, CAST({bits} AS BIGINT) AS qk12
  FROM (
    SELECT media_ref,
           least(greatest(CAST(floor((mx + 180.0) / 360.0 * {nx}) AS BIGINT), 0), {nx - 1}) AS cx,
           least(greatest(CAST(floor((90.0 - my) / 180.0 * {nx}) AS BIGINT), 0), {nx - 1}) AS cy
    FROM media WHERE doc_num % 20 = 0
  ) _c
) _q
""",
        tables=["media"],
    )


from terrakit_spark.registry import register_df  # noqa: E402

register_df("quadkey_cells", _quadkey_query, oracle=_quadkey_oracle())


def _bbox_clip_360(dialect: str) -> str:
    """0-360 longitude-system bbox clip
    (/root/reference/terrakit/general_utils/geospatial_util.py:568-626 +
    tests/component_tests/general_utils/test_geospatial_util.py:15): scene
    extents converted to the 0-360 system (negative lon + 360), clipped by
    a query box given in the same system. The reference asserts
    minx <= maxx after conversion — extents that straddle the wrap are
    flagged instead of silently mangled."""
    qx0, qy0, qx1, qy1 = "2.0e2", "-2.0e1", "3.0e2", "4.0e1"
    x0 = "CASE WHEN xmin < 0 THEN xmin + 360 ELSE xmin END"
    x1 = "CASE WHEN xmax < 0 THEN xmax + 360 ELSE xmax END"
    return f"""
SELECT scene_id, straddles,
       CASE WHEN NOT straddles AND cx0 <= {qx1} AND cx1 >= {qx0}
             AND ymin <= {qy1} AND ymax >= {qy0}
            THEN round(greatest(cx0, {qx0}), 6) END AS clip_xmin,
       CASE WHEN NOT straddles AND cx0 <= {qx1} AND cx1 >= {qx0}
             AND ymin <= {qy1} AND ymax >= {qy0}
            THEN round(least(cx1, {qx1}), 6) END AS clip_xmax,
       CASE WHEN NOT straddles AND cx0 <= {qx1} AND cx1 >= {qx0}
             AND ymin <= {qy1} AND ymax >= {qy0}
            THEN round(greatest(ymin, {qy0}), 6) END AS clip_ymin,
       CASE WHEN NOT straddles AND cx0 <= {qx1} AND cx1 >= {qx0}
             AND ymin <= {qy1} AND ymax >= {qy0}
            THEN round(least(ymax, {qy1}), 6) END AS clip_ymax
FROM (
  SELECT scene_id, ymin, ymax, {x0} AS cx0, {x1} AS cx1,
         ({x0}) > ({x1}) AS straddles
  FROM scenes
) _c
"""


register_sql("bbox_clip_360", _bbox_clip_360, tables=["scenes"])


def _curvilinear_clip(dialect: str) -> str:
    """F5 FULL — curvilinear-grid bbox clip over true 2-D coordinate
    arrays, matching
    /root/reference/terrakit/general_utils/geospatial_util.py:177-213:
    per-pixel lon is normalized from the 0-360 system to [-180, 180)
    (((lon+180) % 360) - 180; rendered as a CASE because every synthetic
    lon_raw lies in [0, 360)), the bbox mask is evaluated on the 2-D
    coordinate arrays, and `where(mask, drop=True)` semantics are
    reproduced exactly: rows/cols where the mask is all-False are DROPPED
    (including interior ones), surviving cells outside the mask become
    NULL (xarray's NaN).

    The synthetic curvilinear grid shears lon by y and lat by x with exact
    dyadic coefficients, so all coordinate arithmetic is bit-identical in
    Spark and DuckDB. Scale shape: pixel explosion is linear, the
    keep-row/keep-col reduction is two map-side-combinable aggregates per
    scene, and the final join keys on (scene, y)/(scene, x) — no
    cross-scene shuffle."""
    from terrakit_spark.synth import pixel_value_expr

    small = "SELECT scene_id, width, height FROM scenes WHERE width * height <= 3072 AND scene_id % 15 = 0"
    if dialect == SPARK:
        grid = f"""
  SELECT scene_id, width, y, x FROM ({small}) s
  LATERAL VIEW explode(sequence(0, height - 1)) _gy AS y
  LATERAL VIEW explode(sequence(0, width - 1)) _gx AS x"""
    else:
        grid = f"""
  SELECT scene_id, width, y, unnest(generate_series(0, CAST(width - 1 AS BIGINT))) AS x
  FROM (SELECT scene_id, width, height,
               unnest(generate_series(0, CAST(height - 1 AS BIGINT))) AS y
        FROM ({small}) s) _y"""
    val = pixel_value_expr("scene_id", "0", "y", "x", "width")
    keep1 = "sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0"
    return f"""
WITH grid AS ({grid}),
pix AS (
  SELECT scene_id, y, x,
         CASE WHEN lon_raw >= 1.8e2 THEN lon_raw - 3.6e2 ELSE lon_raw END AS lon,
         lat, val
  FROM (SELECT scene_id, y, x,
               1.4e2 + (scene_id % 9) * 2.0e1 + x * 2.5e-1 + (y % 7) * 3.125e-2 AS lon_raw,
               -2.0e1 + (scene_id % 7) * 1.0e1 + y * 2.5e-1 + (x % 5) * 6.25e-2 AS lat,
               CAST({val} AS DOUBLE) AS val
        FROM grid) _r
),
m AS (
  SELECT scene_id, y, x, lon, lat, val,
         (lon >= -1.6e2 AND lon <= -1.35e2 AND lat >= -5.0e0 AND lat <= 2.5e1) AS keep
  FROM pix
),
rows_keep AS (SELECT scene_id, y FROM m GROUP BY scene_id, y HAVING {keep1}),
cols_keep AS (SELECT scene_id, x FROM m GROUP BY scene_id, x HAVING {keep1})
SELECT m.scene_id, m.y, m.x, m.lon, m.lat,
       CASE WHEN m.keep THEN m.val END AS value
FROM m
JOIN rows_keep r ON r.scene_id = m.scene_id AND r.y = m.y
JOIN cols_keep c ON c.scene_id = m.scene_id AND c.x = m.x
"""


register_sql("curvilinear_clip", _curvilinear_clip, tables=["scenes"])
