"""WARC record-walk unit tests (operators/warc.py) — the ISO 28500
demux tier. Mirrors the mp3/mp4 demux test strategy: byte-exact
roundtrip through the synthesizer, the torn/trailing-junk recall
matrix, and the Spark 1→N surface with per-row quarantine."""

from __future__ import annotations

import hashlib

import pytest

from quickstart_streaming_agents_spark.operators.warc import (
    make_warc,
    warc_record_table,
    warc_records,
)

RECS = [
    ("response", "<urn:uuid:1-0>", "https://a.example/x", b"hello world"),
    ("request", "<urn:uuid:1-1>", "https://b.example/y", b""),
    ("response", "<urn:uuid:1-2>", "https://c.example/z", b"bytes\r\nwith\r\ncrlf"),
]


def test_warc_walk_roundtrip():
    """Every record's byte range slices back to exactly its content,
    headers parse, offsets are contiguous, empty payloads are legal."""
    p = make_warc(RECS)
    tab = warc_record_table(p)
    assert [r["record_idx"] for r in tab] == [0, 1, 2]
    assert tab[0]["offset"] == 0
    for r, (wt, _, uri, content) in zip(tab, RECS):
        assert r["warc_type"] == wt and r["target_uri"] == uri
        assert r["content_length"] == len(content)
        lo = r["content_offset"]
        assert p[lo : lo + r["content_length"]] == content
    # records tile the payload exactly: next offset = end of previous
    for a, b in zip(tab, tab[1:]):
        assert b["offset"] == (a["content_offset"] + a["content_length"] + 4)
    assert tab[-1]["content_offset"] + tab[-1]["content_length"] + 4 == len(p)


def test_warc_trailing_junk_recall_is_consistent():
    """Every trailing-junk shape after >=1 valid record ends the walk
    gracefully (the r9 mp3 contract); payloads that never start a
    record reject."""
    p = make_warc(RECS)
    junk_shapes = {
        "non_warc": b"GARBAGE AFTER",
        "torn_version": b"WARC/1.0\r",
        "torn_header": b"WARC/1.0\r\nWARC-Type: response\r\n",
        "missing_length": b"WARC/1.0\r\nWARC-Type: x\r\n\r\n\r\n\r\n",
        "bad_length": b"WARC/1.0\r\nContent-Length: zap\r\n\r\n\r\n\r\n",
        "torn_payload": make_warc(RECS[:1])[:-6],
    }
    for shape, junk in junk_shapes.items():
        assert len(warc_record_table(p + junk)) == 3, shape
    with pytest.raises(ValueError):
        warc_record_table(b"not a warc at all")
    with pytest.raises(ValueError):
        warc_record_table(junk_shapes["torn_payload"])  # no complete record
    with pytest.raises(ValueError, match="no valid"):
        warc_record_table(b"")


def test_warc_header_parsing_is_case_insensitive():
    p = (b"WARC/1.0\r\nwarc-type: RESPONSE\r\ncontent-length: 2\r\n"
         b"WARC-TARGET-URI: u\r\n\r\nok\r\n\r\n")
    [r] = warc_record_table(p)
    assert r["warc_type"] == "RESPONSE" and r["target_uri"] == "u"
    assert r["content_length"] == 2


def test_warc_records_spark_surface(spark):
    """1→N demux with per-row quarantine (the junk payload's walk
    raises and emits no row); content_md5 matches an independent hash of the sliced range."""
    p1 = make_warc(RECS)
    p2 = make_warc(RECS[:1])
    rows = [(1, bytearray(p1)), (2, bytearray(p2)), (3, b"junk")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {(r.doc_id, r.record_idx): r for r in warc_records(df).collect()}
    assert set(got) == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert got[(1, 2)].content_md5 == hashlib.md5(RECS[2][3]).hexdigest()
    assert got[(1, 1)].content_length == 0  # empty payload demuxes
    with pytest.raises(ValueError):
        warc_record_table(b"junk")
    # md5 can be switched off for pure-index scans
    no_md5 = warc_records(df, with_content_md5=False).collect()
    assert all(r.content_md5 is None for r in no_md5)
