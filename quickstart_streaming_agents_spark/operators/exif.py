"""EXIF (APP1/TIFF) metadata parsing for the JPEG tier — real bytes,
both endiannesses, no image libraries.

Beyond-reference surface: multimodal curation pipelines read EXIF
before any pixel work — Orientation (tag 0x0112) decides whether a
resize/crop/dHash runs on rotated pixels, and Make/Model feed
source-device mix reports. The JPEG codec tier (operators/multimodal)
decodes pixels; this module walks the APP1 segment's embedded TIFF
structure (II/MM byte order, IFD0 entry table, inline vs offset
values) exactly as TIFF 6.0 specifies.

Spark-first shape: map-only ``mapInPandas`` over payload bytes —
header-only work (the probe_media triage class), scan speed at 100 TB.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from .payload import map_payloads

_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_ORIENTATION = 0x0112


def make_exif_app1(
    orientation: int,
    make: str | None = None,
    model: str | None = None,
    little_endian: bool = True,
) -> bytes:
    """Assemble a real APP1 payload: ``Exif\\0\\0`` + TIFF header + IFD0
    with Orientation (SHORT, inline) and optional Make/Model (ASCII,
    out-of-line when over 4 bytes, as TIFF requires). Entries emit in
    ascending tag order (a TIFF 6.0 MUST)."""
    if not 1 <= orientation <= 8:
        raise ValueError(f"orientation must be 1..8, got {orientation}")
    e = "<" if little_endian else ">"
    entries: list[tuple[int, int, int, bytes, bytes | None]] = []

    def ascii_entry(tag: int, s: str) -> None:
        raw = s.encode("ascii") + b"\x00"
        if len(raw) <= 4:
            entries.append((tag, 2, len(raw), raw.ljust(4, b"\x00"), None))
        else:
            entries.append((tag, 2, len(raw), b"", raw))

    if make is not None:
        ascii_entry(_TAG_MAKE, make)
    if model is not None:
        ascii_entry(_TAG_MODEL, model)
    entries.append(
        (_TAG_ORIENTATION, 3, 1,
         struct.pack(f"{e}H", orientation).ljust(4, b"\x00"), None)
    )
    entries.sort(key=lambda t: t[0])

    n = len(entries)
    data_off = 8 + 2 + 12 * n + 4  # header + count + entries + next-IFD
    body = bytearray()
    tail = bytearray()
    for tag, typ, cnt, inline, out_of_line in entries:
        if out_of_line is not None:
            body += struct.pack(f"{e}HHI", tag, typ, cnt)
            body += struct.pack(f"{e}I", data_off + len(tail))
            tail += out_of_line
        else:
            body += struct.pack(f"{e}HHI", tag, typ, cnt) + inline
    tiff = (
        (b"II" if little_endian else b"MM")
        + struct.pack(f"{e}H", 42)
        + struct.pack(f"{e}I", 8)  # IFD0 right after the header
        + struct.pack(f"{e}H", n)
        + bytes(body)
        + struct.pack(f"{e}I", 0)  # no next IFD
        + bytes(tail)
    )
    return b"Exif\x00\x00" + tiff


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment directly after SOI (the JFIF/EXIF
    convention) — works on any marker-structured JPEG."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    seg = b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1
    return jpeg[:2] + seg + jpeg[2:]


def parse_exif_app1(data: bytes) -> dict:
    """Parse one APP1 payload → ``{orientation, make, model,
    little_endian}`` (absent tags → None)."""
    if data[:6] != b"Exif\x00\x00":
        raise ValueError("APP1 payload is not EXIF")
    t = data[6:]
    if t[:2] == b"II":
        e = "<"
    elif t[:2] == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte-order mark {t[:2]!r}")
    if struct.unpack_from(f"{e}H", t, 2)[0] != 42:
        raise ValueError("bad TIFF magic")
    ifd = struct.unpack_from(f"{e}I", t, 4)[0]
    if ifd + 2 > len(t):
        raise ValueError("truncated TIFF IFD0")
    n = struct.unpack_from(f"{e}H", t, ifd)[0]
    out: dict = {
        "orientation": None,
        "make": None,
        "model": None,
        "little_endian": e == "<",
    }

    def read_ascii(cnt: int, pos: int) -> str:
        if cnt <= 4:
            raw = t[pos : pos + cnt]
        else:
            off = struct.unpack_from(f"{e}I", t, pos)[0]
            if off + cnt > len(t):
                raise ValueError("truncated TIFF ASCII value")
            raw = t[off : off + cnt]
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")

    for i in range(n):
        base = ifd + 2 + 12 * i
        if base + 12 > len(t):
            raise ValueError("truncated TIFF entry table")
        tag, typ, cnt = struct.unpack_from(f"{e}HHI", t, base)
        vpos = base + 8
        if tag == _TAG_ORIENTATION and typ == 3 and cnt == 1:
            out["orientation"] = struct.unpack_from(f"{e}H", t, vpos)[0]
        elif tag == _TAG_MAKE and typ == 2:
            out["make"] = read_ascii(cnt, vpos)
        elif tag == _TAG_MODEL and typ == 2:
            out["model"] = read_ascii(cnt, vpos)
    return out


def jpeg_exif(p: bytes) -> dict | None:
    """Marker-walk a JPEG to its APP1/EXIF segment; None when the image
    has no EXIF (a legal JPEG), ValueError for a non-JPEG payload."""
    if p[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(p):
        if p[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        while pos + 1 < len(p) and p[pos + 1] == 0xFF:  # T.81 fill bytes
            pos += 1
        marker = p[pos + 1]
        if marker == 0xD9 or marker == 0xDA:  # EOI / entropy data begins
            return None
        if 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        seg_len = struct.unpack_from(">H", p, pos + 2)[0]
        if marker == 0xE1 and p[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return parse_exif_app1(p[pos + 4 : pos + 2 + seg_len])
        pos += 2 + seg_len
    return None


def exif_display_dims(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The practical composition every image-resize stage needs BEFORE
    touching pixels: stored SOF dimensions (header probe) + EXIF
    Orientation → DISPLAY dimensions (orientations 5-8 are the
    transposed ones, so width/height swap). One map-only pass reads
    both headers; images with no EXIF default to orientation 1
    (the spec's display default). Non-JPEG payloads keep an all-NULL
    row (the payload-walker quarantine, operators/payload.py)."""

    def walk(p: bytes) -> list[list]:
        from quickstart_streaming_agents_spark.operators.multimodal import (
            _probe_jpeg,
        )

        probe = _probe_jpeg(p)
        orient = (jpeg_exif(p) or {}).get("orientation") or 1
        if not 1 <= orient <= 8:
            # corrupt/out-of-range EXIF orientation (0, 9+): fall back
            # to the spec's display default instead of transposing on
            # garbage (ADVICE r10)
            orient = 1
        w, h = probe["width"], probe["height"]
        dw, dh = (h, w) if orient >= 5 else (w, h)
        return [[orient, w, h, dw, dh]]

    return map_payloads(
        df, walk,
        [("orientation", "int"), ("stored_w", "int"), ("stored_h", "int"),
         ("display_w", "int"), ("display_h", "int")],
        id_col, payload_col, fail_row=[None] * 5,
    )


def _exif_row(p: bytes) -> list[list]:
    meta = jpeg_exif(p)
    if meta is None:
        return [[None, None, None, None, False]]
    return [[meta["orientation"], meta["make"], meta["model"],
             meta["little_endian"], True]]


def exif_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-image EXIF columns ``(id_col, orientation, make, model,
    little_endian, has_exif)``. EXIF-less JPEGs keep a row with NULL
    tag values and ``has_exif = false``; non-JPEG payloads keep an
    all-NULL row (the payload-walker quarantine, operators/payload.py)."""
    return map_payloads(
        df, _exif_row,
        [("orientation", "int"), ("make", "string"), ("model", "string"),
         ("little_endian", "boolean"), ("has_exif", "boolean")],
        id_col, payload_col, fail_row=[None] * 5,
    )
