"""ZIP central-directory walk — operators/zipindex.py.

The writer side is the stdlib ``zipfile`` module (an independent
implementation): offsets are pinned against ``infolist()``.
"""

from __future__ import annotations

import io
import struct
import zipfile
import zlib

import pytest
from pyspark.sql import Row

from quickstart_streaming_agents_spark.operators.zipindex import (
    zip_member_table,
    zip_members,
)


def _make(entries, method=zipfile.ZIP_STORED):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", method) as z:
        for name, content in entries:
            z.writestr(zipfile.ZipInfo(name), content)
    return buf.getvalue()


def test_walk_matches_stdlib_infolist():
    entries = [("a.txt", b"hello world"), ("dir/b.bin", b"x" * 300),
               ("empty", b"")]
    p = _make(entries)
    tab = zip_member_table(p)
    with zipfile.ZipFile(io.BytesIO(p)) as z:
        std = [(m.filename, m.file_size, m.header_offset)
               for m in z.infolist()]
    assert [(m["name"], m["uncomp_size"], m["header_offset"])
            for m in tab] == std
    for m, (_, content) in zip(tab, entries):
        got = p[m["data_offset"] : m["data_offset"] + m["comp_size"]]
        assert got == content
        assert m["crc_ok"]
        assert m["crc32"] == zlib.crc32(content) & 0xFFFFFFFF


def test_deflated_members_report_both_sizes():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(zipfile.ZipInfo("c.txt"), b"compress me please " * 20,
                   compress_type=zipfile.ZIP_DEFLATED)
    p = buf.getvalue()
    [m] = zip_member_table(p)
    assert m["method"] == 8
    assert m["comp_size"] < m["uncomp_size"] == 380
    assert m["data_offset"] is not None


def test_crc_verification_catches_payload_corruption():
    p = bytearray(_make([("a.txt", b"payload bytes here")]))
    [m] = zip_member_table(bytes(p))
    p[m["data_offset"] + 3] ^= 0xFF
    [m2] = zip_member_table(bytes(p))
    assert m2["crc_ok"] is False
    assert m2["data_offset"] == m["data_offset"]  # range still resolves


def test_local_header_extra_field_divergence_resolved():
    """The data offset must come from the LOCAL header's lengths, not
    the central copy — inject a local extra field the central entry
    does not mention."""
    p = _make([("a.txt", b"hello")])
    [m] = zip_member_table(p)
    # rebuild: insert a 4-byte extra field into the local header only
    extra = b"\x99\x99\x00\x00"
    lo = m["header_offset"]
    nlen = struct.unpack_from("<H", p, lo + 26)[0]
    patched = bytearray(p)
    struct.pack_into("<H", patched, lo + 28, len(extra))  # local elen
    insert_at = lo + 30 + nlen
    patched = patched[:insert_at] + extra + patched[insert_at:]
    # shift the EOCD's central-directory offset and the central entry's
    # local-header offset (0 here, unchanged) accordingly
    eocd = bytes(patched).rfind(b"PK\x05\x06")
    cd_off = struct.unpack_from("<I", patched, eocd + 16)[0]
    struct.pack_into("<I", patched, eocd + 16, cd_off + len(extra))
    [m2] = zip_member_table(bytes(patched))
    assert m2["data_offset"] == m["data_offset"] + len(extra)
    assert bytes(patched)[m2["data_offset"] : m2["data_offset"] + 5] == b"hello"
    assert m2["crc_ok"]


def test_fault_matrix():
    p = _make([("a.txt", b"q" * 100)])
    with pytest.raises(ValueError, match="end-of-central"):
        zip_member_table(b"no zip here" * 10)
    with pytest.raises(ValueError):
        zip_member_table(b"")
    # torn central directory: EOCD intact, central entry clobbered
    eocd = p.rfind(b"PK\x05\x06")
    cd_off = struct.unpack_from("<I", p, eocd + 16)[0]
    torn = bytearray(p)
    torn[cd_off] ^= 0xFF
    with pytest.raises(ValueError, match="torn ZIP central"):
        zip_member_table(bytes(torn))
    # out-of-range local offset -> member kept, NULL data_offset
    bad = bytearray(p)
    struct.pack_into("<I", bad, cd_off + 42, 0xFFFFFF)
    [m] = zip_member_table(bytes(bad))
    assert m["data_offset"] is None and m["crc_ok"] is False


def test_spark_surface_and_on_error(spark):
    import hashlib

    good = _make([("s0.txt", b"payload"), ("s0.cls", b"3")])
    df = spark.createDataFrame([
        Row(doc_id=1, payload=good),
        Row(doc_id=2, payload=b"garbage"),
        Row(doc_id=3, payload=None),
    ])
    got = zip_members(df).collect()
    assert sorted((r.doc_id, r.name, r.uncomp_size) for r in got) == [
        (1, "s0.cls", 1), (1, "s0.txt", 7),
    ]
    md5s = {r.name: r.content_md5 for r in got}
    assert md5s["s0.txt"] == hashlib.md5(b"payload").hexdigest()
    assert all(r.crc_ok for r in got)


def test_zip64_sentinels_quarantine():
    """EOCD ZIP64 sentinel fields (entry count 0xFFFF, cd offset/size
    0xFFFFFFFF) mean the real values live in the unparsed ZIP64 EOCD —
    the walk must raise (→ payload quarantine), not misparse
    (ADVICE r10)."""
    p = _make([("a.txt", b"q" * 64)])
    eocd = p.rfind(b"PK\x05\x06")
    for off, val, fmt in [
        (eocd + 10, 0xFFFF, "<H"),        # n_total sentinel
        (eocd + 12, 0xFFFFFFFF, "<I"),    # cd_size sentinel
        (eocd + 16, 0xFFFFFFFF, "<I"),    # cd_off sentinel
    ]:
        bad = bytearray(p)
        struct.pack_into(fmt, bad, off, val)
        with pytest.raises(ValueError, match="ZIP64"):
            zip_member_table(bytes(bad))
