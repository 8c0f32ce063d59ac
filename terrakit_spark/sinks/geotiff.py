"""GeoTIFF chip sink (K2/K3) — pure-struct TIFF 6.0 + GeoTIFF encoder, no
rasterio required.

The reference writes every chip/date raster as a GeoTIFF with band
descriptions and nodata via rasterio
(/root/reference/terrakit/download/geodata_utils.py:447-538). This module
closes that surface in a codec-free container: a minimal little-endian,
uncompressed, planar GeoTIFF writer (and a reader for roundtrip tests)
implementing the public TIFF 6.0 + GeoTIFF 1.0 layouts:

- one strip per band (PlanarConfiguration=2), float32 or int32 samples;
- ModelPixelScale + ModelTiepoint for the EPSG:4326 geotransform;
- GeoKeyDirectory: geographic model, area raster, GCS 4326;
- GDAL_METADATA band descriptions and GDAL_NODATA, byte-compatible with
  what rasterio/GDAL emits for the same metadata.

The distributed sink is a foreachPartition writer: each executor task
serializes its chip rows straight to .tif files (no driver collect)."""

from __future__ import annotations

import os
import struct

import numpy as np

# TIFF type ids
_SHORT, _LONG, _ASCII, _DOUBLE = 3, 4, 2, 12

_SAMPLE_FORMAT = {"float32": 3, "int32": 2}


def geotiff_bytes(
    cube: np.ndarray,
    xmin: float,
    ymax: float,
    res: float,
    band_names: list[str] | None = None,
    nodata: float | None = None,
) -> bytes:
    """Encode a (bands, h, w) float32/int32 array as a GeoTIFF byte string."""
    if cube.ndim == 2:
        cube = cube[None, :, :]
    kind = str(cube.dtype)
    if kind not in _SAMPLE_FORMAT:
        raise ValueError(f"unsupported dtype {kind}; use float32 or int32")
    nb, h, w = cube.shape
    band_names = band_names or [f"B{i + 1}" for i in range(nb)]

    # GDAL-compatible metadata XML (band descriptions)
    items = "".join(
        f'<Item name="DESCRIPTION" sample="{i}" role="description">{n}</Item>'
        for i, n in enumerate(band_names)
    )
    gdal_md = f"<GDALMetadata>{items}</GDALMetadata>\x00"
    nodata_s = (f"{nodata:g}" + "\x00") if nodata is not None else None

    plane_bytes = w * h * 4
    data_off = 8
    strip_offsets = [data_off + i * plane_bytes for i in range(nb)]
    ifd_off = data_off + nb * plane_bytes

    # external value payloads live after the IFD
    # entry: (tag, type, count, inline4 bytes or None, external bytes or None)
    entries: list[tuple[int, int, int, bytes | None, bytes | None]] = []

    def _val4(fmt: str, *vals) -> bytes:
        return struct.pack("<" + fmt, *vals).ljust(4, b"\x00")

    def _entry(tag: int, typ: int, count: int, inline4: bytes | None, ext: bytes | None = None):
        # explicit inline-vs-external flag (a sentinel byte pattern could
        # collide with a legitimate 4-byte value, e.g. a large strip offset)
        entries.append((tag, typ, count, inline4, ext))

    sizes = {_SHORT: 2, _LONG: 4, _ASCII: 1, _DOUBLE: 8}

    def _arr_entry(tag: int, typ: int, values, as_bytes: bytes | None = None):
        raw = as_bytes if as_bytes is not None else struct.pack(
            "<" + {"H": "H", "I": "I", "d": "d"}[{_SHORT: "H", _LONG: "I", _DOUBLE: "d"}[typ]] * len(values), *values
        )
        count = len(raw) // sizes[typ] if typ != _ASCII else len(raw)
        if len(raw) <= 4:
            _entry(tag, typ, count, raw.ljust(4, b"\x00"))
        else:
            _entry(tag, typ, count, None, raw)

    _entry(256, _LONG, 1, _val4("I", w))
    _entry(257, _LONG, 1, _val4("I", h))
    _arr_entry(258, _SHORT, [32] * nb)
    _entry(259, _SHORT, 1, _val4("H", 1))
    _entry(262, _SHORT, 1, _val4("H", 1))
    _arr_entry(273, _LONG, strip_offsets)
    _entry(277, _SHORT, 1, _val4("H", nb))
    _entry(278, _LONG, 1, _val4("I", h))
    _arr_entry(279, _LONG, [plane_bytes] * nb)
    _entry(284, _SHORT, 1, _val4("H", 2))
    _arr_entry(339, _SHORT, [_SAMPLE_FORMAT[kind]] * nb)
    _arr_entry(33550, _DOUBLE, [res, res, 0.0])
    _arr_entry(33922, _DOUBLE, [0.0, 0.0, 0.0, xmin, ymax, 0.0])
    # GeoKeyDirectory: version 1.1.0, 3 keys
    _arr_entry(
        34735, _SHORT,
        [1, 1, 0, 3,
         1024, 0, 1, 2,   # GTModelType = geographic
         1025, 0, 1, 1,   # GTRasterType = pixel-is-area
         2048, 0, 1, 4326],  # GeographicType = WGS84
    )
    _arr_entry(42112, _ASCII, None, as_bytes=gdal_md.encode())
    if nodata_s is not None:
        _arr_entry(42113, _ASCII, None, as_bytes=nodata_s.encode())

    entries_sorted = sorted(entries, key=lambda e: e[0])
    n = len(entries_sorted)
    ext_off = ifd_off + 2 + n * 12 + 4
    ifd = struct.pack("<H", n)
    ext_blob = b""
    for tag, typ, count, inline4, ext in entries_sorted:
        if inline4 is None:
            ifd += struct.pack("<HHI", tag, typ, count) + struct.pack("<I", ext_off + len(ext_blob))
            pad = ext + (b"\x00" if len(ext) % 2 else b"")
            ext_blob += pad
        else:
            ifd += struct.pack("<HHI", tag, typ, count) + inline4
    ifd += struct.pack("<I", 0)  # no next IFD

    header = struct.pack("<2sHI", b"II", 42, ifd_off)
    planes = b"".join(np.ascontiguousarray(cube[i]).tobytes() for i in range(nb))
    return header + planes + ifd + ext_blob


def parse_geotiff(buf: bytes) -> dict:
    """Minimal reader for roundtrip verification (handles what the writer
    emits: little-endian, single IFD, planar strips)."""
    order, magic, ifd_off = struct.unpack_from("<2sHI", buf, 0)
    assert order == b"II" and magic == 42
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n):
        tag, typ, count = struct.unpack_from("<HHI", buf, ifd_off + 2 + i * 12)
        raw4 = buf[ifd_off + 2 + i * 12 + 8 : ifd_off + 2 + i * 12 + 12]
        size = {2: 1, 3: 2, 4: 4, 12: 8}[typ] * count
        if size <= 4:
            val = raw4[:size]
        else:
            (off,) = struct.unpack("<I", raw4)
            val = buf[off : off + size]
        tags[tag] = (typ, count, val)

    def _ints(tag, fmt):
        typ, count, val = tags[tag]
        return list(struct.unpack("<" + fmt * count, val))

    w, h = _ints(256, "I")[0], _ints(257, "I")[0]
    nb = _ints(277, "H")[0]
    fmt = _ints(339, "H")[0]
    dtype = np.float32 if fmt == 3 else np.int32
    offsets = _ints(273, "I")
    counts = _ints(279, "I")
    planes = [
        np.frombuffer(buf[o : o + c], dtype=dtype).reshape(h, w) for o, c in zip(offsets, counts)
    ]
    scale = list(struct.unpack("<3d", tags[33550][2]))
    tie = list(struct.unpack("<6d", tags[33922][2]))
    out = {
        "width": w,
        "height": h,
        "bands": nb,
        "cube": np.stack(planes),
        "res": scale[0],
        "xmin": tie[3],
        "ymax": tie[4],
        "geokeys": _ints(34735, "H"),
    }
    if 42112 in tags:
        out["gdal_metadata"] = tags[42112][2].rstrip(b"\x00").decode()
    if 42113 in tags:
        out["nodata"] = float(tags[42113][2].rstrip(b"\x00").decode())
    return out


def chips_with_geo(chips, scenes):
    """Attach each chip's geotransform origin (chip_xmin, chip_ymax) by
    joining the scene envelope: clamped windows start at pixel
    (max(win_x,0), max(win_y,0)) of the scene grid."""
    from pyspark.sql import functions as F

    from terrakit_spark.synth import RES

    s = scenes.select(
        "scene_id", F.col("xmin").alias("_sxmin"), F.col("ymax").alias("_symax")
    )
    return (
        chips.join(F.broadcast(s), "scene_id")
        .withColumn("chip_xmin", F.col("_sxmin") + F.greatest(F.col("win_x"), F.lit(0)) * F.lit(RES))
        .withColumn("chip_ymax", F.col("_symax") - F.greatest(F.col("win_y"), F.lit(0)) * F.lit(RES))
        .drop("_sxmin", "_symax")
    )


def write_chip_tifs(chips, out_dir: str, res: float | None = None) -> None:
    """Distributed K2/K3/K5 sink: one {scene_id}_{win_index}.data.tif
    (float32, band descriptions, nodata) + .label.tif (int32) per chip row,
    written from executor tasks via foreachPartition — no driver collect.
    Input is the chip_pipeline output schema, optionally through
    chips_with_geo for a real geotransform (origin falls back to 0,0)."""
    from terrakit_spark.synth import NODATA, RES

    res = RES if res is None else res

    def _write(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            nb, ch, cw = int(r.bands), int(r.chip_h), int(r.chip_w)
            cube = np.frombuffer(r.data, dtype=np.float32).reshape(nb, ch, cw)
            lab = np.frombuffer(r.label, dtype=np.int32).reshape(ch, cw)
            gx = float(getattr(r, "chip_xmin", 0.0))
            gy = float(getattr(r, "chip_ymax", 0.0))
            stem = os.path.join(out_dir, f"{r.scene_id}_{r.win_index}")
            names = [f"B{i + 1}" for i in range(nb)]
            with open(stem + ".data.tif", "wb") as fh:
                fh.write(geotiff_bytes(cube, gx, gy, res, names, nodata=NODATA))
            with open(stem + ".label.tif", "wb") as fh:
                fh.write(geotiff_bytes(lab.astype(np.int32), gx, gy, res, ["LABEL"]))

    chips.foreachPartition(_write)
