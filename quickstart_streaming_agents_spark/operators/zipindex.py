"""ZIP member index — the central-directory walk.

Beyond-reference surface: the other archive container training data
ships in (Kaggle dumps, docs corpora, model checkpoints). Unlike TAR's
linear walk (`operators/tar.py`), ZIP is indexed from the END: the
End-Of-Central-Directory record (EOCD, ``PK\\x05\\x06``) is scanned
back from the tail, the central directory enumerates members with
their LOCAL header offsets, and each local header (``PK\\x03\\x04``)
is then probed to resolve the true DATA offset (its name/extra lengths
may differ from the central copy — the spec's notorious trap). That
byte-range handle is what makes a 100 TB object-store corpus randomly
accessible without extraction.

Validation: the walker verifies EOCD/central/local signatures, bounds
every read, cross-checks the local header's name against the central
one, and (for STORED members) recomputes the CRC-32 over the data —
``crc_ok`` exposes payload corruption row-by-row.

Fault contract (the tar/warc convention): payloads with no EOCD, a
torn central directory, or an out-of-range local offset raise — the
payload walker quarantines them (operators/payload.py). Individual members
with bad local headers are emitted with NULL ``data_offset`` and
``crc_ok = false`` rather than poisoning the archive's other members.

Correctness stance: tests walk archives produced by the stdlib
``zipfile`` module (independent writer — ``infolist().header_offset``
pins our offsets); the registered query's DuckDB oracle replays names,
sizes and the 30+len(name) local-header prefix sums analytically.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame

from .payload import map_payloads

_EOCD_SIG = b"PK\x05\x06"
_CEN_SIG = b"PK\x01\x02"
_LOC_SIG = b"PK\x03\x04"


def zip_member_table(p: bytes) -> list[dict]:
    """Walk a ZIP central directory: per member ``(member_idx, name,
    method, comp_size, uncomp_size, crc32, header_offset, data_offset,
    crc_ok)``. See the module docstring for validation + faults."""
    n = len(p)
    # EOCD: last 22 bytes + up to 64 KiB of trailing comment
    lo = max(0, n - 22 - 0xFFFF)
    eocd = p.rfind(_EOCD_SIG, lo)
    if eocd == -1 or eocd + 22 > n:
        raise ValueError("not a ZIP payload (no end-of-central-directory)")
    n_total, cd_size, cd_off = struct.unpack_from("<HII", p, eocd + 10)
    # ZIP64 sentinels: the real counts/offsets live in the ZIP64 EOCD
    # record this walker does not parse — quarantine the payload
    # instead of misparsing a truncated/shifted member list
    # (ADVICE r10).
    if n_total == 0xFFFF or cd_size == 0xFFFFFFFF or cd_off == 0xFFFFFFFF:
        raise ValueError("ZIP64 archive (EOCD sentinel fields) unsupported")
    if cd_off + cd_size > eocd:
        raise ValueError("ZIP central directory out of range")
    out: list[dict] = []
    pos = cd_off
    for idx in range(n_total):
        if pos + 46 > n or p[pos : pos + 4] != _CEN_SIG:
            raise ValueError(f"torn ZIP central directory at entry {idx}")
        (method, crc, comp, uncomp, nlen, elen, clen) = struct.unpack_from(
            "<H4xIIIHHH", p, pos + 10
        )
        loc_off = struct.unpack_from("<I", p, pos + 42)[0]
        name = p[pos + 46 : pos + 46 + nlen].decode("utf-8", "replace")
        data_off = None
        crc_ok = False
        # resolve the TRUE data offset from the LOCAL header (its
        # name/extra lengths can legally differ from the central copy)
        if loc_off + 30 <= n and p[loc_off : loc_off + 4] == _LOC_SIG:
            lnlen, lelen = struct.unpack_from("<HH", p, loc_off + 26)
            cand = loc_off + 30 + lnlen + lelen
            local_name = p[loc_off + 30 : loc_off + 30 + lnlen]
            if cand + comp <= n and local_name == p[pos + 46 : pos + 46 + nlen]:
                data_off = cand
                if method == 0:  # STORED: verify payload integrity
                    crc_ok = (
                        zlib.crc32(p[cand : cand + comp]) & 0xFFFFFFFF
                    ) == crc
                else:
                    crc_ok = True  # compressed: CRC covers inflated bytes
        out.append(
            {
                "member_idx": idx,
                "name": name,
                "method": method,
                "comp_size": comp,
                "uncomp_size": uncomp,
                "crc32": crc,
                "header_offset": loc_off,
                "data_offset": data_off,
                "crc_ok": crc_ok,
            }
        )
        pos += 46 + nlen + elen + clen
    if not out:
        raise ValueError("empty ZIP central directory")
    return out


def zip_members(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    with_content_md5: bool = True,
) -> DataFrame:
    """Map-only 1→N ZIP demux: one row per member with name, sizes,
    byte range, CRC verdict and (for STORED members) the content md5."""

    def walk(p: bytes) -> list[list]:
        rows = []
        for m in zip_member_table(p):
            md5 = None
            if (
                with_content_md5
                and m["method"] == 0
                and m["data_offset"] is not None
            ):
                md5 = hashlib.md5(
                    p[m["data_offset"] : m["data_offset"] + m["comp_size"]]
                ).hexdigest()
            rows.append([
                m["member_idx"], m["name"], m["method"], m["comp_size"],
                m["uncomp_size"], m["crc32"], m["header_offset"],
                m["data_offset"], m["crc_ok"], md5,
            ])
        return rows

    return map_payloads(
        df, walk,
        [("member_idx", "int"), ("name", "string"), ("method", "int"),
         ("comp_size", "bigint"), ("uncomp_size", "bigint"),
         ("crc32", "bigint"), ("header_offset", "bigint"),
         ("data_offset", "bigint"), ("crc_ok", "boolean"),
         ("content_md5", "string")],
        id_col, payload_col,
    )
