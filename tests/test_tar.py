"""TAR (ustar) member walk — operators/tar.py.

The writer side is the stdlib ``tarfile`` module (an independent
implementation), so these tests pin the walker against bytes it did
not produce itself.
"""

from __future__ import annotations

import hashlib
import io
import tarfile

import pytest
from pyspark.sql import Row

from quickstart_streaming_agents_spark.operators.tar import (
    tar_member_table,
    tar_members,
)


def _make(entries, fmt=tarfile.USTAR_FORMAT):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
        for name, content in entries:
            ti = tarfile.TarInfo(name)
            ti.size = len(content)
            ti.mtime = 0
            tf.addfile(ti, io.BytesIO(content))
    return buf.getvalue()


def test_walk_matches_stdlib_tarfile_listing():
    entries = [
        ("a.txt", b"hello"),
        ("dir/b.bin", b"x" * 513),          # spills into a 2nd block
        ("c.json", b"{}"),
        ("exact.dat", b"z" * 512),          # exactly one block
        ("empty.touch", b""),               # zero-length member
    ]
    p = _make(entries)
    tab = tar_member_table(p)
    with tarfile.open(fileobj=io.BytesIO(p)) as tf:
        std = [(m.name, m.size, m.offset, m.offset_data)
               for m in tf.getmembers()]
    assert [(m["name"], m["size"], m["offset"], m["content_offset"])
            for m in tab] == std
    # content ranges really address the member bytes
    for m, (_, content) in zip(tab, entries):
        got = p[m["content_offset"] : m["content_offset"] + m["size"]]
        assert got == content


def test_long_names_use_the_ustar_prefix_field():
    name = "deep/" * 25 + "leaf.txt"       # > 100 chars, < 255
    assert len(name) > 100
    p = _make([(name, b"deep content")])
    [m] = tar_member_table(p)
    assert m["name"] == name


def test_checksum_validation_rejects_corrupt_headers():
    p = bytearray(_make([("a.txt", b"hello"), ("b.txt", b"world")]))
    # corrupt a name byte in the FIRST header: checksum no longer holds
    p[0] ^= 0xFF
    with pytest.raises(ValueError, match="magic/checksum"):
        tar_member_table(bytes(p))
    # corrupt the SECOND header: walk keeps the valid first member
    p2 = bytearray(_make([("a.txt", b"hello"), ("b.txt", b"world")]))
    p2[1024] ^= 0xFF
    tab = tar_member_table(bytes(p2))
    assert [m["name"] for m in tab] == ["a.txt"]


def test_fault_matrix():
    p = _make([("a.txt", b"q" * 700), ("b.txt", b"r" * 700)])
    full = tar_member_table(p)
    assert len(full) == 2
    # torn final member: header claims bytes past the payload
    torn = p[: full[1]["content_offset"] + 100]
    assert [m["name"] for m in tar_member_table(torn)] == ["a.txt"]
    # trailing junk after the archive end
    assert len(tar_member_table(p + b"junkjunk")) == 2
    # pure garbage raises
    with pytest.raises(ValueError):
        tar_member_table(b"nope" * 200)
    with pytest.raises(ValueError):
        tar_member_table(b"")


def test_spark_surface_and_on_error(spark):
    good = _make([("s0.txt", b"payload"), ("s0.cls", b"3")])
    rows = [
        Row(doc_id=1, payload=good),
        Row(doc_id=2, payload=b"garbage"),
        Row(doc_id=3, payload=None),
    ]
    df = spark.createDataFrame(rows)
    got = tar_members(df).collect()
    assert sorted((r.doc_id, r.name, r.size) for r in got) == [
        (1, "s0.cls", 1), (1, "s0.txt", 7),
    ]
    md5s = {r.name: r.content_md5 for r in got}
    assert md5s["s0.txt"] == hashlib.md5(b"payload").hexdigest()
