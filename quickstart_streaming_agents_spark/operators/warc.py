"""WARC (ISO 28500 Web ARChive) record parsing — the container format
of Common Crawl and every web-scale crawl corpus.

Beyond-reference surface: the published curation recipes (C4, CCNet,
RefinedWeb) all START from WARC/WET files — concatenated records, each
a ``WARC/1.0`` version line + named header fields + a
``Content-Length``-framed payload, terminated by CRLF CRLF. This
module is the real byte-level record walk (the demux tier of the web
corpus, exactly like mp4_sample_table is for ISO-BMFF): resolve every
record's header fields and payload byte range without touching the
payload bytes themselves.

Fault contract (the mp3_frame_table convention, ADVICE r8): a payload
that never starts a valid record raises; once at least one record has
parsed, a torn final record or any trailing junk ends the walk
gracefully with the records already parsed — every trailing-junk shape
gets the same recall.

Spark-first shape: map-only 1→N ``mapInPandas`` — at 100 TB the record
walk fuses into the scan like the media probes; the emitted byte
ranges feed the gzip/normalize/quality tiers downstream. (On-disk
WARC members are usually gzip-per-record: operators/compress.py's
bounded multi-member inflate is the stage in front of this one.)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from .payload import map_payloads


def make_warc(records: list[tuple[str, str, str, bytes]]) -> bytes:
    """Assemble concatenated WARC/1.0 records. Each record is
    ``(warc_type, record_id, target_uri, content)``; headers follow the
    ISO 28500 layout with a fixed WARC-Date (fixture determinism, the
    ``gzip_compress`` mtime=0 convention)."""
    out = bytearray()
    for warc_type, record_id, uri, content in records:
        hdr = (
            "WARC/1.0\r\n"
            f"WARC-Type: {warc_type}\r\n"
            f"WARC-Record-ID: {record_id}\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(content)}\r\n\r\n"
        ).encode("utf-8")
        out += hdr + content + b"\r\n\r\n"
    return bytes(out)


def warc_record_table(p: bytes) -> list[dict]:
    """Walk concatenated WARC records: per record ``(record_idx,
    offset, content_offset, content_length, warc_type, target_uri)``.

    Header fields parse case-insensitively; ``Content-Length`` is
    mandatory (it frames the walk), type/uri default to None. See the
    module docstring for the torn/trailing-junk contract."""
    out: list[dict] = []
    pos = 0
    n = len(p)
    while pos < n:
        if p[pos : pos + 9] != b"WARC/1.0\r":
            if out:
                break  # trailing junk after valid records: end-of-stream
            raise ValueError("not a WARC/1.0 payload")
        hdr_end = p.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            if out:
                break  # torn final header
            raise ValueError("truncated WARC header")
        fields: dict[str, str] = {}
        for line in p[pos : hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if not _:
                if out:
                    fields = {}
                    break
                raise ValueError(f"malformed WARC header line {line!r}")
            fields[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
        if "content-length" not in fields:
            if out:
                break
            raise ValueError("WARC record missing Content-Length")
        try:
            clen = int(fields["content-length"])
        except ValueError:
            if out:
                break
            raise
        if clen < 0:
            if out:
                break
            raise ValueError(f"negative Content-Length {clen}")
        content_off = hdr_end + 4
        end = content_off + clen
        if end + 4 > n or p[end : end + 4] != b"\r\n\r\n":
            if out:
                break  # torn final record: keep the complete ones
            raise ValueError("truncated WARC record payload")
        out.append(
            {
                "record_idx": len(out),
                "offset": pos,
                "content_offset": content_off,
                "content_length": clen,
                "warc_type": fields.get("warc-type"),
                "target_uri": fields.get("warc-target-uri"),
            }
        )
        pos = end + 4
    if not out:
        raise ValueError("no valid WARC record found")
    return out


def warc_records(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    with_content_md5: bool = True,
) -> DataFrame:
    """Map-only 1→N WARC demux: one row per record with its byte range,
    header fields, and (optionally) the payload md5 — the integrity
    handle downstream dedup joins on without re-reading the archive.
    Undemuxable payloads are skipped (the payload-walker quarantine,
    operators/payload.py)."""

    def walk(p: bytes) -> list[list]:
        return [
            [r["record_idx"], r["offset"], r["content_offset"],
             r["content_length"], r["warc_type"], r["target_uri"],
             hashlib.md5(
                 p[r["content_offset"] : r["content_offset"]
                   + r["content_length"]]
             ).hexdigest() if with_content_md5 else None]
            for r in warc_record_table(p)
        ]

    return map_payloads(
        df, walk,
        [("record_idx", "int"), ("offset", "long"),
         ("content_offset", "long"), ("content_length", "long"),
         ("warc_type", "string"), ("target_uri", "string"),
         ("content_md5", "string")],
        id_col, payload_col,
    )
