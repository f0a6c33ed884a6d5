"""EXIF APP1/TIFF walk unit tests (operators/exif.py): byte-exact
roundtrip through both endiannesses, inline vs out-of-line ASCII,
marker-walk interplay with the real JPEG codec, and the Spark surface
with per-row quarantine."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from quickstart_streaming_agents_spark.operators.exif import (
    exif_meta,
    insert_app1,
    jpeg_exif,
    make_exif_app1,
    parse_exif_app1,
)
from quickstart_streaming_agents_spark.operators.multimodal import (
    _probe_jpeg,
    make_jpeg,
)

BASE = make_jpeg(np.full((6, 9, 3), 77, dtype=np.uint8))


def test_exif_roundtrip_both_endians_and_value_layouts():
    for le in (True, False):
        for o in (1, 5, 8):
            j = insert_app1(BASE, make_exif_app1(
                o, "CamCo", "ModelX9000", little_endian=le))
            m = jpeg_exif(j)
            assert m == {"orientation": o, "make": "CamCo",
                         "model": "ModelX9000", "little_endian": le}
            # the APP1 is transparent to the dimension probe
            pr = _probe_jpeg(j)
            assert (pr["width"], pr["height"]) == (9, 6)
    # inline ASCII (<= 4 bytes incl. the NUL) takes the no-offset path
    m = jpeg_exif(insert_app1(BASE, make_exif_app1(3, "abc")))
    assert m["make"] == "abc" and m["model"] is None
    assert jpeg_exif(BASE) is None  # EXIF-less JPEG is legal


def test_exif_rejections_and_truncations():
    with pytest.raises(ValueError, match="SOI"):
        jpeg_exif(b"not a jpeg")
    with pytest.raises(ValueError, match="orientation"):
        make_exif_app1(0)
    with pytest.raises(ValueError, match="byte-order"):
        parse_exif_app1(b"Exif\x00\x00XX" + bytes(8))
    with pytest.raises(ValueError, match="magic"):
        parse_exif_app1(b"Exif\x00\x00II" + struct.pack("<H", 41) + bytes(6))
    app1 = make_exif_app1(2, "LongMakerName")
    with pytest.raises(ValueError):  # truncated entry table / values
        parse_exif_app1(app1[:20])


def test_exif_meta_spark_surface(spark):
    rows = [
        (1, bytearray(insert_app1(BASE, make_exif_app1(6, "A", "B")))),
        (2, bytearray(BASE)),
        (3, b"garbage"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in exif_meta(df).collect()}
    assert (got[1].orientation, got[1].make, got[1].model,
            got[1].has_exif) == (6, "A", "B", True)
    assert got[2].has_exif is False and got[2].orientation is None
    assert got[3].has_exif is None  # quarantine row


def test_exif_display_dims_orientation_swap(spark):
    """Orientations 5-8 (the transposed group) swap display dims; 1-4
    keep them; EXIF-less JPEGs default to orientation 1; garbage
    quarantines with a NULL row."""
    import numpy as np
    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.exif import (
        exif_display_dims,
        insert_app1,
        make_exif_app1,
    )
    from quickstart_streaming_agents_spark.operators.multimodal import (
        make_jpeg,
    )

    ones = (np.ones((8, 8), np.int64), np.ones((8, 8), np.int64))
    base = make_jpeg(np.full((4, 6, 3), 10, dtype=np.uint8),
                     quant_tables=ones)  # h=4, w=6
    rows = [Row(doc_id=o, payload=insert_app1(base, make_exif_app1(o)))
            for o in range(1, 9)]
    rows += [Row(doc_id=100, payload=base),         # no EXIF
             Row(doc_id=101, payload=b"nope")]      # garbage
    got = {r.doc_id: r for r in
           exif_display_dims(spark.createDataFrame(rows)).collect()}
    for o in range(1, 9):
        r = got[o]
        assert (r.stored_w, r.stored_h) == (6, 4)
        if o >= 5:
            assert (r.display_w, r.display_h) == (4, 6)
        else:
            assert (r.display_w, r.display_h) == (6, 4)
    assert got[100].orientation == 1
    assert (got[100].display_w, got[100].display_h) == (6, 4)
    assert got[101].orientation is None and got[101].display_w is None


def test_exif_display_dims_out_of_range_orientation(spark):
    """Corrupt orientation values (9+) clamp to the display default
    instead of transposing width/height (ADVICE r10)."""
    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.exif import (
        exif_display_dims,
    )

    app1 = make_exif_app1(1, little_endian=True)
    marker = struct.pack("<HHI", 0x0112, 3, 1)
    at = app1.find(marker)
    assert at != -1
    bad = bytearray(app1)
    struct.pack_into("<H", bad, at + 8, 9)  # orientation 9: out of range
    assert parse_exif_app1(bytes(bad))["orientation"] == 9
    df = spark.createDataFrame(
        [Row(doc_id=1, payload=insert_app1(BASE, bytes(bad)))]
    )
    [r] = exif_display_dims(df).collect()
    assert (r.stored_w, r.stored_h) == (9, 6)
    assert (r.display_w, r.display_h) == (9, 6)  # NOT transposed
