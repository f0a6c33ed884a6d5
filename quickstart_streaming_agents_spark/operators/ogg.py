"""Ogg (RFC 3533) page demux — the container walk fronting Vorbis/
Opus/Theora media in a web-crawl corpus.

Beyond-reference surface, same tier as operators/warc.py: resolve
every page's byte range, stream lineage (serial/sequence numbers),
timing (granule position), and packet framing WITHOUT touching the
entropy-coded codec payload. An Ogg page is::

    "OggS" | version u8 | header_type u8 | granule i64 LE
    | serial u32 LE | page_seq u32 LE | crc u32 LE
    | n_segments u8 | segment_table (lacing values)
    | payload (sum of lacing values bytes)

header_type bits: 0x01 continued packet, 0x02 BOS, 0x04 EOS. A packet
ends at every lacing value < 255 — so ``n_packets`` is the count of
sub-255 lacing values (a 255 means "continues in the next segment").

The page CRC is REAL and verified: CRC-32 with polynomial 0x04C11DB7,
no bit reflection, zero init, zero final XOR, computed over the page
with the CRC field zeroed (the RFC 3533 appendix definition — NOT the
zlib CRC). A CRC mismatch on the first page raises (not-Ogg /
corrupted); after one good page it ends the walk gracefully (torn
tail), the warc_record_table fault contract.

Spark-first shape: map-only 1→N ``mapInPandas``; byte ranges feed the
codec tiers downstream exactly like mp4_sample_table.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame

from .payload import map_payloads


def _crc_table() -> list[int]:
    tab = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1)
            r &= 0xFFFFFFFF
        tab.append(r)
    return tab


_CRC_TAB = _crc_table()


def ogg_crc(data: bytes) -> int:
    """RFC 3533 page checksum: unreflected CRC-32/0x04C11DB7, init 0,
    no final XOR."""
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TAB[((crc >> 24) & 0xFF) ^ b]
    return crc


def make_ogg_page(
    packets: list[bytes],
    granule: int,
    serial: int,
    seq: int,
    bos: bool = False,
    eos: bool = False,
) -> bytes:
    """Assemble one Ogg page (real CRC). Packets longer than 254 bytes
    span multiple lacing values per the RFC; a packet whose length is a
    multiple of 255 gets the terminating 0 lacing value."""
    lacing = bytearray()
    payload = bytearray()
    for pkt in packets:
        q, r = divmod(len(pkt), 255)
        lacing += b"\xff" * q + bytes([r])
        payload += pkt
    if len(lacing) > 255:
        raise ValueError("packets exceed one page's 255 lacing slots")
    htype = (0x02 if bos else 0) | (0x04 if eos else 0)
    hdr = (
        b"OggS\x00"
        + bytes([htype])
        + struct.pack("<qIII", granule, serial, seq, 0)
        + bytes([len(lacing)])
        + bytes(lacing)
    )
    page = bytearray(hdr + payload)
    crc = ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def ogg_page_table(p: bytes) -> list[dict]:
    """Walk concatenated Ogg pages: per page the byte ranges, stream
    ids, granule, packet framing, and payload md5. First-page failure
    raises; later failure ends the walk (module fault contract)."""
    out: list[dict] = []
    pos = 0
    n = len(p)
    while pos < n:
        if p[pos : pos + 5] != b"OggS\x00":
            if out:
                break
            raise ValueError("not an Ogg page stream")
        if pos + 27 > n:
            if out:
                break
            raise ValueError("truncated Ogg page header")
        htype = p[pos + 5]
        granule, serial, seq, crc = struct.unpack_from("<qIII", p, pos + 6)
        nseg = p[pos + 26]
        seg_end = pos + 27 + nseg
        if seg_end > n:
            if out:
                break
            raise ValueError("truncated Ogg segment table")
        lacing = p[pos + 27 : seg_end]
        plen = sum(lacing)
        end = seg_end + plen
        if end > n:
            if out:
                break
            raise ValueError("truncated Ogg page payload")
        probe = bytearray(p[pos:end])
        probe[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(probe)) != crc:
            if out:
                break
            raise ValueError("Ogg page CRC mismatch")
        out.append(
            {
                "page_idx": len(out),
                "offset": pos,
                "payload_offset": seg_end,
                "payload_length": plen,
                "granule": granule,
                "serial": serial,
                "page_seq": seq,
                "is_bos": bool(htype & 0x02),
                "is_eos": bool(htype & 0x04),
                "is_continued": bool(htype & 0x01),
                "n_segments": nseg,
                "n_packets": sum(1 for v in lacing if v < 255),
                "payload_md5": hashlib.md5(p[seg_end:end]).hexdigest(),
            }
        )
        pos = end
    if not out:
        raise ValueError("no valid Ogg page found")
    return out


_OGG_PAGE_FIELDS = [
    ("page_idx", "int"), ("offset", "long"), ("payload_offset", "long"),
    ("payload_length", "long"), ("granule", "long"), ("serial", "long"),
    ("page_seq", "long"), ("is_bos", "boolean"), ("is_eos", "boolean"),
    ("is_continued", "boolean"), ("n_segments", "int"),
    ("n_packets", "int"), ("payload_md5", "string"),
]


def ogg_pages(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Map-only 1→N Ogg page demux with real CRC verification.
    Undemuxable payloads are skipped (the payload-walker quarantine,
    operators/payload.py)."""
    return map_payloads(
        df,
        lambda p: [[r[c] for c, _ in _OGG_PAGE_FIELDS]
                   for r in ogg_page_table(p)],
        _OGG_PAGE_FIELDS, id_col, payload_col,
    )
