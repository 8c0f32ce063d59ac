"""S7 — VRT mosaic scan.

The reference mosaics per-tile rasters through GDAL VRTs and reads windows
from the virtual mosaic. This module rebuilds that Spark-first with no
GDAL: a writer that emits the PUBLIC VRT XML layout (VRTDataset /
GeoTransform / VRTRasterBand / SimpleSource with SrcRect+DstRect, GDAL VRT
tutorial schema) over GeoTIFF sources produced by sinks.geotiff, and a
distributed windowed reader:

- the VRT (small XML) ships to executors as a plain string;
- each window task intersects its DstRect against the source list and
  opens ONLY the intersecting GeoTIFFs (source pruning — at scale these
  are object-store range reads);
- overlapping sources composite in document order, later sources
  overwrite earlier (SimpleSource semantics); uncovered pixels keep the
  zero fill.

Scene grids are RES-aligned (scene origins are multiples of 32*RES), so
every DstRect offset is an exact integer — asserted at write time."""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import numpy as np
import pandas as pd

from terrakit_spark.catalog import _register_views
from terrakit_spark.sinks.geotiff import parse_geotiff
from terrakit_spark.synth import RES


def build_vrt(sources: list[dict], res: float = RES) -> str:
    """sources: [{path, scene_id, bands, width, height, xmin, ymax}] in
    composite order (later overwrites earlier). Returns VRT XML."""
    xmin = min(s["xmin"] for s in sources)
    ymax = max(s["ymax"] for s in sources)
    xmax = max(s["xmin"] + s["width"] * res for s in sources)
    ymin = min(s["ymax"] - s["height"] * res for s in sources)
    w = int(round((xmax - xmin) / res))
    h = int(round((ymax - ymin) / res))
    nbands = max(s["bands"] for s in sources)

    root = ET.Element("VRTDataset", rasterXSize=str(w), rasterYSize=str(h))
    gt = ET.SubElement(root, "GeoTransform")
    gt.text = f"{xmin!r}, {res!r}, 0.0, {ymax!r}, 0.0, {-res!r}"
    srs = ET.SubElement(root, "SRS")
    srs.text = "EPSG:4326"
    for b in range(1, nbands + 1):
        band = ET.SubElement(root, "VRTRasterBand", dataType="Float32", band=str(b))
        for s in sources:
            if b > s["bands"]:
                continue
            xoff = (s["xmin"] - xmin) / res
            yoff = (ymax - s["ymax"]) / res
            assert abs(xoff - round(xoff)) < 1e-6 and abs(yoff - round(yoff)) < 1e-6, (
                "source grid not aligned to the mosaic grid"
            )
            src = ET.SubElement(band, "SimpleSource")
            ET.SubElement(src, "SourceFilename", relativeToVRT="0").text = s["path"]
            ET.SubElement(src, "SourceBand").text = str(b)
            ET.SubElement(
                src, "SrcRect", xOff="0", yOff="0",
                xSize=str(s["width"]), ySize=str(s["height"]),
            )
            ET.SubElement(
                src, "DstRect", xOff=str(int(round(xoff))), yOff=str(int(round(yoff))),
                xSize=str(s["width"]), ySize=str(s["height"]),
            )
    return ET.tostring(root, encoding="unicode")


def parse_vrt(xml: str) -> dict:
    root = ET.fromstring(xml)
    gt = [float(v) for v in root.find("GeoTransform").text.split(",")]
    bands = []
    for band in root.findall("VRTRasterBand"):
        srcs = []
        for s in band.findall("SimpleSource"):
            dst = s.find("DstRect")
            src = s.find("SrcRect")
            srcs.append(
                {
                    "path": s.find("SourceFilename").text,
                    "band": int(s.find("SourceBand").text),
                    "src": [int(src.get(k)) for k in ("xOff", "yOff", "xSize", "ySize")],
                    "dst": [int(dst.get(k)) for k in ("xOff", "yOff", "xSize", "ySize")],
                }
            )
        bands.append(srcs)
    return {
        "width": int(root.get("rasterXSize")),
        "height": int(root.get("rasterYSize")),
        "geotransform": gt,
        "bands": bands,
    }


def read_vrt_windows(spark, vrt_xml: str, windows):
    """windows(wid, col0, row0, wpx, hpx) in mosaic pixel coords ->
    one row per (window, band): zero-filled composite's pixel sum and the
    count of source-covered pixels. Each task opens only the GeoTIFFs whose
    DstRect intersects its window."""
    vrt = parse_vrt(vrt_xml)
    bvrt = spark.sparkContext.broadcast(vrt)

    def reader(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bvrt.value
        tif_cache: dict[str, dict] = {}
        cols = ["wid", "band", "px_sum", "covered"]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                c0, r0, wpx, hpx = int(r.col0), int(r.row0), int(r.wpx), int(r.hpx)
                for b, srcs in enumerate(v["bands"]):
                    img = np.zeros((hpx, wpx), dtype=np.float32)
                    cov = np.zeros((hpx, wpx), dtype=bool)
                    for s in srcs:
                        dx, dy, dw, dh = s["dst"]
                        ix0, iy0 = max(c0, dx), max(r0, dy)
                        ix1, iy1 = min(c0 + wpx, dx + dw), min(r0 + hpx, dy + dh)
                        if ix0 >= ix1 or iy0 >= iy1:
                            continue  # source pruned: file never opened
                        if s["path"] not in tif_cache:
                            with open(s["path"], "rb") as fh:
                                tif_cache[s["path"]] = parse_geotiff(fh.read())
                        cube = tif_cache[s["path"]]["cube"]
                        block = cube[s["band"] - 1, iy0 - dy : iy1 - dy, ix0 - dx : ix1 - dx]
                        img[iy0 - r0 : iy1 - r0, ix0 - c0 : ix1 - c0] = block
                        cov[iy0 - r0 : iy1 - r0, ix0 - c0 : ix1 - c0] = True
                    rows.append((r.wid, b + 1, float(img.sum(dtype=np.float64)), int(cov.sum())))
            yield pd.DataFrame(rows, columns=cols)

    return windows.mapInPandas(reader, schema="wid long, band int, px_sum double, covered long")


# ---------------------------------------------------------------- query
def _windows_ctes(dialect: str) -> str:
    """Shared CTE fragment (small, m, wins): label-anchored 32x32 mosaic
    windows — rendered for Spark AND embedded in the DuckDB oracle so the
    float arithmetic locating each window is identical on both sides."""
    from terrakit_spark.operators.chips import SMALL_PRED_SQL
    from terrakit_spark.synth import RES_SQL

    return f"""
small AS (SELECT * FROM scenes WHERE {SMALL_PRED_SQL}),
m AS (SELECT min(xmin) AS mxmin, max(ymax) AS mymax,
             CAST(round((max(xmin + width * {RES_SQL}) - min(xmin)) / {RES_SQL}, 0) AS BIGINT) AS mw,
             CAST(round((max(ymax) - min(ymax - height * {RES_SQL})) / {RES_SQL}, 0) AS BIGINT) AS mh
      FROM small),
wins AS (
  SELECT label_id AS wid,
         least(greatest(CAST(floor((cx - m.mxmin) / {RES_SQL}) AS BIGINT), 0), m.mw - 32) AS col0,
         least(greatest(CAST(floor((m.mymax - cy) / {RES_SQL}) AS BIGINT), 0), m.mh - 32) AS row0
  FROM labels, m WHERE label_id % 50 = 0
)"""


def _vrt_fixture(spark, sf_dir: str) -> str:
    """Write the small-dims scenes as GeoTIFFs (distributed) + build the
    VRT over them, once per sf_dir; returns the VRT XML."""
    import tempfile

    from terrakit_spark.operators.chips import SMALL_PRED_SQL
    from terrakit_spark.sinks.geotiff import geotiff_bytes
    from terrakit_spark.sources.raster import with_pixels
    from terrakit_spark.synth import NODATA

    tag = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(tempfile.gettempdir(), f"terrakit_vrt_{tag}")
    vrt_path = os.path.join(out_dir, "mosaic.vrt")
    scenes = spark.sql(f"SELECT * FROM scenes WHERE {SMALL_PRED_SQL}")
    if not os.path.exists(vrt_path):
        os.makedirs(out_dir, exist_ok=True)

        def w(rows) -> None:
            for r in rows:
                cube = np.frombuffer(r.pixels, np.float32).reshape(r.bands, r.height, r.width)
                buf = geotiff_bytes(cube, float(r.xmin), float(r.ymax), RES, nodata=NODATA)
                with open(os.path.join(out_dir, f"{r.scene_id}.tif"), "wb") as fh:
                    fh.write(buf)

        with_pixels(scenes).foreachPartition(w)
        meta = sorted(
            (r.asDict() for r in scenes.select("scene_id", "bands", "width", "height", "xmin", "ymax").collect()),
            key=lambda r: r["scene_id"],
        )
        for s in meta:
            s["path"] = os.path.join(out_dir, f"{s['scene_id']}.tif")
        xml = build_vrt(meta)
        tmp = vrt_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(xml)
        os.rename(tmp, vrt_path)
    with open(vrt_path) as fh:
        return fh.read()


def vrt_window_stats(spark, sf_dir: str):
    """S7 driver-checked query: label-anchored 32x32 windows read from the
    VRT mosaic (source-pruned GeoTIFF opens, last-source-wins composite);
    one row per (window, band) with zero-filled pixel sum + covered count."""
    from pyspark.sql import functions as F

    from terrakit_spark.dialect import SPARK
    from terrakit_spark.registry import with_synth

    _register_views(spark, sf_dir)
    vrt_xml = _vrt_fixture(spark, sf_dir)
    win_sql = f"WITH {_windows_ctes(SPARK).strip()}\nSELECT wid, col0, row0 FROM wins"
    windows = (
        spark.sql(with_synth(SPARK, win_sql, tables=["labels", "scenes"]))
        .withColumn("wpx", F.lit(32))
        .withColumn("hpx", F.lit(32))
    )
    return read_vrt_windows(spark, vrt_xml, windows).select("wid", "band", "px_sum", "covered")


def _vrt_oracle() -> str:
    """Per-pixel replication: the winning source per (pixel, band) is the
    max-scene_id cover (composite order = ascending scene_id, later
    overwrites), value from the shared pixel formula, zero fill elsewhere."""
    from terrakit_spark.dialect import DUCK
    from terrakit_spark.registry import with_synth
    from terrakit_spark.synth import NODATA_EVERY, PIXEL_BASE, PIXEL_MOD, RES_SQL

    body = f"""
WITH {_windows_ctes(DUCK).strip()},
px AS (
  SELECT wid, col0 + dx AS col, row0 + dy AS row FROM (
    SELECT wid, col0, row0, dx, unnest(generate_series(0, 31)) AS dy
    FROM (SELECT wid, col0, row0, unnest(generate_series(0, 31)) AS dx FROM wins) _x
  ) _y
),
srcs AS (
  SELECT scene_id, bands, width, height,
         CAST(round((xmin - m.mxmin) / {RES_SQL}, 0) AS BIGINT) AS xoff,
         CAST(round((m.mymax - ymax) / {RES_SQL}, 0) AS BIGINT) AS yoff
  FROM small, m
),
cand AS (
  SELECT p.wid, p.col, p.row, b.band, s.scene_id,
         p.col - s.xoff AS lx, p.row - s.yoff AS ly, s.width AS sw,
         row_number() OVER (PARTITION BY p.wid, p.col, p.row, b.band
                            ORDER BY s.scene_id DESC) AS rn
  FROM px p
  JOIN srcs s ON p.col >= s.xoff AND p.col < s.xoff + s.width
             AND p.row >= s.yoff AND p.row < s.yoff + s.height
  JOIN (VALUES (1), (2), (3)) b(band) ON b.band <= s.bands
),
vals AS (
  SELECT wid, band,
         CASE WHEN (scene_id + (band - 1) + ly * sw + lx) % {NODATA_EVERY} = 0 THEN -9999
              ELSE (scene_id * 7 + (band - 1) * 13 + ly * 31 + lx * 17) % {PIXEL_MOD} + {PIXEL_BASE}
         END AS v
  FROM cand WHERE rn = 1
),
agg AS (
  SELECT wid, band, CAST(sum(v) AS DOUBLE) AS px_sum, count(*) AS covered
  FROM vals GROUP BY wid, band
)
SELECT a.wid, CAST(a.band AS INT) AS band,
       coalesce(g.px_sum, 0.0) AS px_sum,
       CAST(coalesce(g.covered, 0) AS BIGINT) AS covered
FROM (SELECT wid, band FROM wins, (VALUES (1), (2), (3)) _b(band)) a
LEFT JOIN agg g ON g.wid = a.wid AND g.band = a.band
"""
    return with_synth(DUCK, body, tables=["labels", "scenes"])


from terrakit_spark.registry import register_df  # noqa: E402

register_df("vrt_window_stats", vrt_window_stats, oracle=_vrt_oracle())
