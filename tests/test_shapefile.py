"""Pure-struct ESRI Shapefile codec (S4 container framing)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from terrakit_spark.sinks.shapefile import (
    _signed_area2,
    decode_dbf,
    decode_shp,
    encode_dbf,
    encode_shp,
    read_shapefile_rows,
    write_shapefile,
)


def _diamond(cx, cy, rx, ry):
    return np.array([[cx - rx, cy], [cx, cy - ry], [cx + rx, cy], [cx, cy + ry]])


def _features(n=7):
    return [[_diamond(10 + i * 0.37, 5 - i * 0.21, 0.5 + 0.01 * i, 0.25 + 0.02 * i)] for i in range(n)]


def test_shp_roundtrip_exact_vertices():
    feats = _features()
    shp, _ = encode_shp(feats)
    back = decode_shp(shp)
    assert len(back) == len(feats)
    for orig, dec in zip(feats, back):
        ring = dec[0]
        # stored closed and clockwise per spec
        assert (ring[0] == ring[-1]).all()
        assert _signed_area2(ring) < 0
        # identical vertex set, bit-exact doubles
        assert {tuple(p) for p in ring[:-1]} == {tuple(p) for p in orig[0]}


def test_shp_multipart_feature():
    feats = [[_diamond(0, 0, 1, 1), _diamond(10, 10, 2, 1)]]
    shp, _ = encode_shp(feats)
    back = decode_shp(shp)
    assert len(back[0]) == 2
    assert {tuple(p) for p in back[0][1][:-1]} == {tuple(p) for p in feats[0][1]}


def test_shx_offsets_address_records():
    feats = _features(5)
    shp, shx = encode_shp(feats)
    (n_words,) = struct.unpack_from(">i", shx, 24)
    n_records = (n_words * 2 - 100) // 8
    assert n_records == 5
    for i in range(n_records):
        off_words, content_words = struct.unpack_from(">2i", shx, 100 + 8 * i)
        num, clen = struct.unpack_from(">2i", shp, off_words * 2)
        assert num == i + 1 and clen == content_words


def test_dbf_roundtrip_types_and_padding():
    fields = [("name", "C", 12), ("klass", "N", 4), ("big", "N", 12)]
    rows = [("a b", 3, 123456789012), ("", 0, -5)]
    back_fields, back_rows = decode_dbf(encode_dbf(fields, rows))
    assert [(f[0], f[1]) for f in back_fields] == [("name", "C"), ("klass", "N"), ("big", "N")]
    assert back_rows == rows


def test_dbf_width_overflow_raises():
    with pytest.raises(ValueError, match="width"):
        encode_dbf([("k", "N", 2)], [(12345,)])


def test_file_surface_and_no_overwrite(tmp_path):
    feats = _features(3)
    fields = [("label_id", "N", 8), ("datetime", "C", 10)]
    rows = [(i, "2024-01-0%d" % (i + 1)) for i in range(3)]
    stem = str(tmp_path / "layer")
    paths = write_shapefile(stem, feats, fields, rows)
    assert [p.rsplit(".", 1)[1] for p in paths] == ["shp", "shx", "dbf"]
    with open(stem + ".shp", "rb") as fh:
        shp = fh.read()
    with open(stem + ".dbf", "rb") as fh:
        dbf = fh.read()
    parsed = read_shapefile_rows(shp, dbf)
    assert [attrs for _v, attrs in parsed] == rows
    # reference semantics: existing files are never overwritten
    # (/root/reference/terrakit/transform/labels.py:117-121)
    assert write_shapefile(stem, feats, fields, rows) == []


def test_shapefile_roundtrip_property():
    """Arbitrary polygons (any vertex count/winding/coordinates, multi-ring
    features) and attribute rows survive encode->decode: bit-exact double
    vertices (as a set — the codec may re-close/re-orient), spec-compliant
    CW closed rings, and exact attrs. Mirrors the hypothesis coverage the
    GeoTIFF/NetCDF codecs already have."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from terrakit_spark.sinks.shapefile import _signed_area2

    coord = st.floats(-1e6, 1e6, allow_nan=False, width=64)

    @settings(max_examples=60, deadline=None)
    # a near-degenerate ring whose area np.dot rounded to 0.0 on the encoder's
    # reversed view and to +1.5e-11 on the decoded copy
    @example(feats=[[[(-1.00001, -1.0), (0.0, -1.0), (-1.00001, -1.0), (131074.0, 0.0)]]], klass=0)
    @given(
        feats=st.lists(
            st.lists(  # feature = 1..3 rings
                st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
                min_size=1,
                max_size=3,
            ),
            min_size=1,
            max_size=6,
        ),
        klass=st.integers(-999, 9999),
    )
    def check(feats, klass):
        polys = [[np.asarray(r, dtype=np.float64) for r in f] for f in feats]
        shp, shx = encode_shp(polys)
        back = decode_shp(shp)
        assert len(back) == len(polys)
        for orig, dec in zip(polys, back):
            assert len(dec) == len(orig)
            for oring, dring in zip(orig, dec):
                assert (dring[0] == dring[-1]).all()  # closed
                assert _signed_area2(dring) <= 0  # CW (0 for degenerate)
                assert {tuple(p) for p in dring} >= {tuple(p) for p in oring}
        fields = [("klass", "N", 6), ("name", "C", 8)]
        rows = [(klass, f"f{i}") for i in range(len(feats))]
        _f, brows = decode_dbf(encode_dbf(fields, rows))
        assert brows == rows

    check()


def test_distributed_shp_sink_then_source(synth, spark, sf_dir, tmp_path):
    """foreachPartition shapefile sink -> binaryFile + mapInPandas source:
    the full distributed write/read loop recovers every label row and
    envelope exactly."""
    from terrakit_spark.sinks.shapefile import read_labels_shapefiles, write_labels_shp

    src = spark.sql(
        "SELECT label_id, datetime, labelclass, filename, cx, cy, rx, ry FROM labels"
    ).repartition(4)
    n_written = write_labels_shp(src, str(tmp_path / "shp"))
    assert 1 <= n_written <= 4  # triples actually written, not partition count
    # re-run under a DIFFERENT partitioning must refuse (stale stems would
    # duplicate rows on read), and overwrite=True must clear + rewrite
    import pytest

    with pytest.raises(FileExistsError):
        write_labels_shp(src.repartition(2), str(tmp_path / "shp"))
    assert write_labels_shp(src.repartition(2), str(tmp_path / "shp"), overwrite=True) >= 1
    write_labels_shp(src, str(tmp_path / "shp"), overwrite=True)
    back = read_labels_shapefiles(spark, str(tmp_path / "shp"))
    want = sorted(
        (r.label_id, r.datetime, r.labelclass, r.filename, r.cx - r.rx, r.cy - r.ry, r.cx + r.rx, r.cy + r.ry)
        for r in src.collect()
    )
    got = sorted(
        (r.label_id, r.datetime, r.labelclass, r.filename, r.xmin, r.ymin, r.xmax, r.ymax)
        for r in back.collect()
    )
    assert got == want


def test_shp_roundtrip_query_matches_oracle(synth, spark, duck, sf_dir):
    import terrakit_spark.operators  # noqa: F401
    from terrakit_spark.registry import ORACLES, QUERIES
    from tests.util import assert_match

    assert_match(QUERIES["shp_roundtrip"](spark, sf_dir), duck, ORACLES["shp_roundtrip"])
