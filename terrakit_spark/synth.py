"""Deterministic synthetic geospatial world, derived from the driver's
testdata parquet with integer-exact arithmetic.

Tables (all derived, no randomness, identical in Spark and DuckDB):

- ``labels``   — polygon label layer (diamond quadrilaterals) mirroring the
  reference's label GeoDataFrame schema contract
  (/root/reference/terrakit/transform/labels.py:336-343: geometry, datetime,
  filename, labelclass) plus ``geom_seq`` to reproduce rasterize's
  later-shape-overwrites-earlier burn order
  (/root/reference/terrakit/download/download_data.py:371-394).
- ``scenes``   — raster scene catalog mirroring downloaded tiles: EPSG:4326
  bounds, pixel dims covering every reference fixture case (10x10 dummy.tif,
  256x256, 512x768, 700x300, plus 64x48), 1 or 3 bands, float32 pixels with
  nodata -9999 holes (/root/reference/terrakit/download/data_connectors/
  sentinelhub.py:183-192).
- ``media``    — georeferenced media spans of the interleaved documents table
  (BASELINE.json input_hint), linking doc media_refs to footprints + dates.
- ``spans``    — exploded (doc_id, kind, text, media_ref, offset) rows; the
  per-row invariant is that the offset-ordered sequence survives every
  operator.

Pixel values are integers in [500, 11000] (range per the reference's
verified stats /root/reference/terrakit/general_utils/statistics.py:64-71)
stored as float32 — integers <= 2^24 are exact in f32, and their sums and
sums-of-squares are exact in int64/f64, so Spark-side numpy statistics match
the DuckDB closed-form oracle bit-for-bit.

A deliberate hotspot (lon 9..14, lat 11..14 holds ~30% of labels, scenes and
media) exercises skew handling (salting + AQE skew join).
"""

from __future__ import annotations

from terrakit_spark.dialect import SPARK, D

# ---------------------------------------------------------------- constants
# Bump when any derived table's CONTENT changes: disk fixtures built from the
# synth world (e.g. the tortilla container cache) key on this so a synth
# change forces a rebuild instead of validating stale bytes.
SYNTH_VERSION = 2
RES = 0.0078125  # degrees per pixel = 2^-7 (exact binary)
RES_SQL = "7.8125e-3"  # same value as a dialect-neutral DOUBLE literal
CHIP = 256  # sample_dim, /root/reference/terrakit/chip/tiling.py:125
PRE_DAYS = 0  # /root/reference/terrakit/validate/download_model.py:35
POST_DAYS = 7  # /root/reference/terrakit/validate/download_model.py:36
NODATA = -9999.0  # /root/reference/terrakit/download/data_connectors/sentinelhub.py:186
CELL_DEG = 1.0  # grid-cell size of the spatial index, level 0
PIXEL_MOD = 10501
PIXEL_BASE = 500
NODATA_EVERY = 997  # every 997th pixel (by linear index) is a nodata hole

# (width, height) cycle; covers all reference chip fixture shapes
DIMS = [(256, 256), (512, 768), (700, 300), (10, 10), (64, 48)]


# ---------------------------------------------------------------- labels
def labels_sql(dialect: str) -> str:
    """Polygon label layer derived from ``events``.

    One diamond (convex rhombus) per event with event_id % 3 == 0:
    vertices (cx-rx,cy), (cx,cy-ry), (cx+rx,cy), (cx,cy+ry).
    labelclass cycles 1..3 via 1 + (e//3 % 3) — it must be derived from
    e//3 because e itself is always ≡ 0 (mod 3) on this stream (the original
    1 + e%3 form was constant 1, which silently left every class-priority
    code path — burn overwrite order, dominant-class selection — untested).
    Point-in-diamond has the closed form |x-cx|/rx + |y-cy|/ry < 1, which the
    DuckDB oracle uses, while the engine runs the generic ray-cast UDF.
    Centers carry a tiny irrational-ish offset ((e%97)/7.77e3) so query
    points never land exactly on an edge.
    """
    d = D(dialect)
    dt = d.date_add("DATE '2024-01-01'", "e % 60")
    return f"""
SELECT e AS label_id,
       e AS geom_seq,
       {dt} AS dt,
       {d.date_str(dt)} AS datetime,
       CAST(1 + ({d.idiv('e', '3')} % 3) AS INT) AS labelclass,
       CASE WHEN (e % 10) < 3
            THEN 1.0e1 + (e % 16) * 1.25e-1 + ((e % 97) + 1) / 7.77e3
            ELSE ((e * 7) % 340) - 170 + 5.0e-1 + ((e % 97) + 1) / 7.77e3 END AS cx,
       CASE WHEN (e % 10) < 3
            THEN 1.2e1 + (e % 8) * 1.25e-1 + ((e % 89) + 1) / 8.88e3
            ELSE ((e * 13) % 160) - 80 + 5.0e-1 + ((e % 89) + 1) / 8.88e3 END AS cy,
       2.5e-1 + (e % 4) * 1.25e-1 AS rx,
       2.5e-1 + (e % 3) * 1.25e-1 AS ry,
       {d.fmt("label_%s_CLASS_%d_v1.json", d.date_token(dt), f"CAST(1 + ({d.idiv('e', '3')} % 3) AS INT)")} AS filename
FROM (SELECT event_id AS e FROM events WHERE event_id % 3 = 0) _ev
"""


# ---------------------------------------------------------------- scenes
def scenes_sql(dialect: str) -> str:
    """Raster scene catalog derived from ``events`` (event_id % 5 == 0)."""
    d = D(dialect)
    idx = f"({d.idiv('e', '5')} % 5)"
    w = "CASE " + " ".join(f"WHEN {idx} = {i} THEN {wh[0]}" for i, wh in enumerate(DIMS)) + " END"
    h = "CASE " + " ".join(f"WHEN {idx} = {i} THEN {wh[1]}" for i, wh in enumerate(DIMS)) + " END"
    date = d.date_add("DATE '2024-01-01'", "e % 67")
    return f"""
SELECT e AS scene_id,
       {date} AS scene_date,
       {d.date_str(date)} AS scene_date_str,
       CAST({w} AS INT) AS width,
       CAST({h} AS INT) AS height,
       CAST(1 + 2 * (e % 2) AS INT) AS bands,
       CASE WHEN (e % 10) < 3
            THEN 9.0e0 + (e % 8) * 2.5e-1
            ELSE ((e * 11) % 340) - 170 + (e % 4) * 2.5e-1 END AS xmin,
       CASE WHEN (e % 10) < 3
            THEN 1.1e1 + (e % 8) * 2.5e-1
            ELSE ((e * 17) % 160) - 80 + (e % 4) * 2.5e-1 END AS ymin,
       CASE WHEN (e % 10) < 3
            THEN 9.0e0 + (e % 8) * 2.5e-1
            ELSE ((e * 11) % 340) - 170 + (e % 4) * 2.5e-1 END + CAST({w} AS INT) * {RES_SQL} AS xmax,
       CASE WHEN (e % 10) < 3
            THEN 1.1e1 + (e % 8) * 2.5e-1
            ELSE ((e * 17) % 160) - 80 + (e % 4) * 2.5e-1 END + CAST({h} AS INT) * {RES_SQL} AS ymax
FROM (SELECT event_id AS e FROM events WHERE event_id % 5 = 0) _ev
"""


def pixel_value_expr(scene: str, band: str, y: str, x: str, w: str) -> str:
    """Deterministic pixel value (same formula in SQL and numpy):
    -9999 nodata hole every NODATA_EVERY-th linear index, else
    ((scene*7 + band*13 + y*31 + x*17) % 10501) + 500."""
    return (
        f"CASE WHEN (({scene}) + ({band}) + ({y}) * ({w}) + ({x})) % {NODATA_EVERY} = 0 THEN -9999 "
        f"ELSE (({scene}) * 7 + ({band}) * 13 + ({y}) * 31 + ({x}) * 17) % {PIXEL_MOD} + {PIXEL_BASE} END"
    )


# ---------------------------------------------------------------- media / spans
def media_sql(dialect: str) -> str:
    """Georeferenced media spans: one row per (doc, media index m), where a
    media span follows every 4th text token. Offsets interleave with text
    spans: text token j sits at offset j + j//4; media m at offset 4 + 5*m.
    """
    d = D(dialect)
    toks = d.split_ws("text")
    n_media = d.idiv(d.arr_len(toks), "4")
    date = d.date_add("DATE '2024-01-01'", "(doc_id + 3 * m) % 60")
    if dialect == SPARK:
        from_frag = f"FROM documents LATERAL VIEW explode(sequence(0, {n_media} - 1)) _m AS m WHERE {n_media} > 0"
        sel_m = "m"
    else:
        # DuckDB: zip parallel unnests in SELECT via a subquery
        from_frag = f"FROM (SELECT doc_id, unnest(generate_series(0, {n_media} - 1)) AS m FROM documents WHERE {n_media} > 0) _m"
        sel_m = "m"
    return f"""
SELECT {d.fmt("doc-%012d", "doc_id")} AS doc_id,
       doc_id AS doc_num,
       {sel_m} AS m,
       {d.fmt("doc-%012d/m%d", "doc_id", sel_m)} AS media_ref,
       CAST(4 + 5 * {sel_m} AS INT) AS offset,
       CASE WHEN (doc_id % 10) < 3
            THEN 1.0e1 + ((doc_id * 31 + {sel_m} * 17) % 64) * 6.25e-2 + ((doc_id % 83) + 1) / 9.99e3
            ELSE ((doc_id * 31 + {sel_m} * 17) % 340) - 170 + 5.0e-1 + ((doc_id % 83) + 1) / 9.99e3 END AS mx,
       CASE WHEN (doc_id % 10) < 3
            THEN 1.2e1 + ((doc_id * 13 + {sel_m} * 7) % 32) * 6.25e-2 + ((doc_id % 79) + 1) / 9.19e3
            ELSE ((doc_id * 13 + {sel_m} * 7) % 160) - 80 + 5.0e-1 + ((doc_id % 79) + 1) / 9.19e3 END AS my,
       {date} AS media_date,
       {d.date_str(date)} AS media_date_str
{from_frag}
"""


def spans_sql(dialect: str) -> str:
    """Interleaved span rows per BASELINE.json input_hint:
    (doc_id string, kind, text, media_ref, offset int). Text token j ->
    offset j + j//4; media m -> offset 4 + 5*m. UNION ALL of both kinds."""
    d = D(dialect)
    toks = d.split_ws("text")
    if dialect == SPARK:
        text_part = f"""
SELECT {d.fmt("doc-%012d", "doc_id")} AS doc_id,
       'text' AS kind, tok AS text, '' AS media_ref,
       CAST(j + (j div 4) AS INT) AS offset
FROM documents LATERAL VIEW posexplode({toks}) _t AS j, tok
"""
    else:
        text_part = f"""
SELECT {d.fmt("doc-%012d", "doc_id")} AS doc_id,
       'text' AS kind, tok AS text, '' AS media_ref,
       CAST(j + (j // 4) AS INT) AS offset
FROM (SELECT doc_id,
             unnest(generate_series(0, len({toks}) - 1)) AS j,
             unnest({toks}) AS tok
      FROM documents) _t
"""
    media_part = f"""
SELECT doc_id, 'media' AS kind, '' AS text, media_ref, {d.q("offset")} AS offset
FROM ({media_sql(dialect)}) _media
"""
    return f"{text_part} UNION ALL {media_part}"


def docs_aug_sql(dialect: str) -> str:
    """Documents augmented with deterministic planted duplicates so dedup
    operators have guaranteed hits: every 89th doc gets an EXACT copy
    (doc_id + 2e9), every 97th a NEAR duplicate with a suffix appended
    (doc_id + 1e9). Same SQL text in both dialects."""
    return """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 2000000000 AS doc_id, text FROM documents WHERE doc_id % 89 = 0
UNION ALL
SELECT doc_id + 1000000000 AS doc_id, text || ' near duplicate tail marker' AS text
FROM documents WHERE doc_id % 97 = 0
"""


def emb_aug_sql(dialect: str) -> str:
    """Embeddings augmented with deterministic planted NEAR-DUPLICATE
    vectors (the emb_aug analogue of docs_aug): every 20th vector gets a
    perturbed copy at vec_id + 1e7 — element i shifted by
    ((vec_id*3 + i) % 5 - 2)/64 (exact binary offsets, so double math is
    bit-identical in both engines). Perturbation keeps cosine ≈ 0.99
    against the original, so threshold operators (embedding_near_dup)
    actually exercise their >= branch instead of passing vacuously.
    vec_id + 1e7 preserves vec_id % 10, keeping planted pairs inside the
    deterministic query subsets."""
    if dialect == SPARK:
        base = "transform(embedding, x -> CAST(x AS DOUBLE))"
        pert = (
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE)"
            " + ((vec_id * 3 + i) % 5 - 2) * 1.5625e-2)"
        )
    else:
        base = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
        pert = (
            "list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE)"
            " + ((vec_id * 3 + (i - 1)) % 5 - 2) * 1.5625e-2)"
        )
    return f"""
SELECT vec_id, {base} AS embedding FROM embeddings
UNION ALL
SELECT vec_id + 10000000 AS vec_id, {pert} AS embedding
FROM embeddings WHERE vec_id % 20 = 0
"""


ALL_TABLES = {
    "labels": labels_sql,
    "scenes": scenes_sql,
    "media": media_sql,
    "spans": spans_sql,
    "docs_aug": docs_aug_sql,
    "emb_aug": emb_aug_sql,
}

