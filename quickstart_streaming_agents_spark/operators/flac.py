"""FLAC (RFC 9639) metadata-block parsing — the lossless-audio header
tier of an audio-curation corpus.

Beyond-reference surface, same tier as operators/exif.py for JPEG: a
speech/music curation pipeline must read sample rate, channel count,
bit depth, duration, and embedded tags from FLAC files BEFORE deciding
whether to decode them. All of that lives in the metadata section —
``fLaC`` magic, then a chain of blocks each fronted by a 1-byte header
(bit 7 = last-block flag, bits 0-6 = type) and a 24-bit big-endian
body length:

* STREAMINFO (type 0, mandatory first, 34-byte body) — bit-packed:
  u16 min/max blocksize, u24 min/max framesize, then one 64-bit group
  ``sample_rate(20) | channels-1(3) | bps-1(5) | total_samples(36)``,
  then the 16-byte MD5 of the unencoded audio (the integrity handle
  audio dedup joins on without decoding a single frame).
* VORBIS_COMMENT (type 4) — LE-framed ``vendor`` + ``KEY=value`` tags
  (the TITLE/ARTIST metadata layer, same role as ID3 for MP3).
* PADDING/APPLICATION/SEEKTABLE etc. are length-skipped.

The frame section after the last metadata block is never touched —
entropy-coded FLAC subframes are out of scope for the same reason as
MPEG audio (operators/multimodal.py rung (5) closure note); the
header tier is what the curation use case needs.

Fault contract (the mp3_frame_table convention): not-FLAC or a torn
STREAMINFO raises (→ the ``is_flac = false`` quarantine row); a
torn LATER block ends the walk gracefully with STREAMINFO already
parsed — tags degrade, identity does not.

Spark-first shape: map-only ``mapInPandas`` — fuses into the scan at
100 TB exactly like probe_media.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from .payload import map_payloads

STREAMINFO, PADDING, APPLICATION, SEEKTABLE, VORBIS_COMMENT = 0, 1, 2, 3, 4


def make_flac(
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    audio_md5: bytes = b"\x00" * 16,
    tags: dict[str, str] | None = None,
    padding: int = 0,
    frame_junk: bytes = b"",
) -> bytes:
    """Assemble a FLAC metadata section (deterministic fixture synth —
    the make_warc convention). ``tags`` adds a VORBIS_COMMENT block,
    ``padding`` a PADDING block, ``frame_junk`` stands in for the
    never-parsed frame section."""
    if not (1 <= channels <= 8):
        raise ValueError(f"channels out of range: {channels}")
    if not (4 <= bits_per_sample <= 32):
        raise ValueError(f"bits_per_sample out of range: {bits_per_sample}")
    if sample_rate >= 1 << 20 or total_samples >= 1 << 36:
        raise ValueError("sample_rate/total_samples exceed field widths")
    if len(audio_md5) != 16:
        raise ValueError("audio_md5 must be 16 bytes")
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    body = (
        struct.pack(">HH", 4096, 4096)
        + (0).to_bytes(3, "big") + (0).to_bytes(3, "big")
        + packed.to_bytes(8, "big")
        + audio_md5
    )
    blocks: list[tuple[int, bytes]] = [(STREAMINFO, body)]
    if tags is not None:
        vendor = b"spark-graft"
        vb = struct.pack("<I", len(vendor)) + vendor
        vb += struct.pack("<I", len(tags))
        for k, v in tags.items():
            item = f"{k}={v}".encode()
            vb += struct.pack("<I", len(item)) + item
        blocks.append((VORBIS_COMMENT, vb))
    if padding:
        blocks.append((PADDING, b"\x00" * padding))
    out = bytearray(b"fLaC")
    for i, (btype, b) in enumerate(blocks):
        last = 0x80 if i == len(blocks) - 1 else 0
        out += bytes([last | btype]) + len(b).to_bytes(3, "big") + b
    return bytes(out) + frame_junk


def flac_stream_table(p: bytes) -> dict:
    """Parse the metadata section of one FLAC payload. Returns the
    STREAMINFO fields + tag summary; raises on not-FLAC / torn
    STREAMINFO (see module fault contract)."""
    if p[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    info: dict | None = None
    n_blocks = 0
    has_vc = False
    title: str | None = None
    last = False
    while not last:
        if pos + 4 > len(p):
            if info is not None:
                break  # torn later block header: keep identity
            raise ValueError("truncated FLAC block header")
        hdr = p[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(p[pos + 1 : pos + 4], "big")
        body_off = pos + 4
        if info is None and btype != STREAMINFO:
            raise ValueError("first FLAC block is not STREAMINFO")
        if body_off + blen > len(p):
            if info is not None and btype != STREAMINFO:
                break  # torn tag/padding body: tags degrade gracefully
            raise ValueError("truncated STREAMINFO body")
        body = p[body_off : body_off + blen]
        if btype == STREAMINFO:
            if blen != 34:
                raise ValueError(f"STREAMINFO length {blen} != 34")
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "audio_md5": body[18:34].hex(),
            }
            if info["sample_rate"] == 0:
                raise ValueError("STREAMINFO sample_rate 0")
        elif btype == VORBIS_COMMENT:
            has_vc = True
            try:
                (vlen,) = struct.unpack_from("<I", body, 0)
                off = 4 + vlen
                (n,) = struct.unpack_from("<I", body, off)
                off += 4
                for _ in range(n):
                    (ilen,) = struct.unpack_from("<I", body, off)
                    off += 4
                    item = body[off : off + ilen].decode("utf-8", "replace")
                    off += ilen
                    k, sep, v = item.partition("=")
                    if sep and k.upper() == "TITLE":
                        title = v
            except struct.error:
                pass  # malformed comment body: tags degrade, walk continues
        n_blocks += 1
        pos = body_off + blen
    assert info is not None  # loop exits above guarantee this
    return {
        **info,
        "n_meta_blocks": n_blocks,
        "has_vorbis_comment": has_vc,
        "title": title,
        "duration_ms": info["total_samples"] * 1000 // info["sample_rate"],
    }


_FLAC_META_FIELDS = [
    ("sample_rate", "int"), ("channels", "int"),
    ("bits_per_sample", "int"), ("total_samples", "long"),
    ("duration_ms", "long"), ("n_meta_blocks", "int"),
    ("has_vorbis_comment", "boolean"), ("title", "string"),
    ("audio_md5", "string"),
]


def flac_stream_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Map-only FLAC header probe: one row per payload with STREAMINFO
    fields, duration, tag summary, and the unencoded-audio MD5. A
    payload that is not FLAC keeps its row (the row count stays 1:1 for
    audit joins) with ``is_flac = false`` and NULL fields — the
    payload-walker quarantine, operators/payload.py."""

    def walk(p: bytes) -> list[list]:
        t = flac_stream_table(p)
        return [[True] + [t[c] for c, _ in _FLAC_META_FIELDS]]

    return map_payloads(
        df, walk, [("is_flac", "boolean"), *_FLAC_META_FIELDS],
        id_col, payload_col,
        fail_row=[False] + [None] * len(_FLAC_META_FIELDS),
    )
