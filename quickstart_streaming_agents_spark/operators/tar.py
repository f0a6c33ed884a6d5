"""TAR (ustar) member index — the WebDataset container walk.

Beyond-reference surface: sharded training corpora ship as TAR archives
(WebDataset — the de-facto PyTorch/img2dataset shard format — is plain
POSIX ustar), so a 100 TB multimodal pipeline's first stage over shards
is a member walk: name, size, byte range per member, WITHOUT extracting.
This is the TAR sibling of the WARC record demux (`operators/warc.py`):
same map-only 1→N shape, same fault contract.

Format (POSIX 1003.1-1988 ustar, public spec): 512-byte header blocks —
name[100] mode[8] uid[8] gid[8] size[12,octal] mtime[12,octal]
chksum[8] typeflag[1] linkname[100] magic[6]="ustar\\0" version[2]
uname[32] gname[32] devmajor[8] devminor[8] prefix[155] — content
follows, zero-padded to the next 512 boundary; the archive ends with
two zero blocks. The walker VALIDATES the header checksum (unsigned
byte sum with the chksum field read as 8 spaces — the spec rule), so a
corrupt block can't masquerade as a member.

Fault contract (the warc/mp3/mp4 convention): a torn final member
(header claims bytes past the payload) or trailing junk after ≥ 1 valid
member ends the walk gracefully; a payload with no valid member raises
— quarantined by the payload walker (operators/payload.py).

Correctness stance: tests walk archives produced by the stdlib
``tarfile`` module (an INDEPENDENT writer — no self-consistency trap;
``make_tar`` is that writer), and the registered query's DuckDB oracle
replays names, sizes and 512-block prefix-sum offsets analytically.

Spark-first shape: map-only ``mapInPandas`` over payload bytes — the
walk fuses into the scan, zero shuffle at any corpus size; downstream
joins use (shard, offset) as the random-access handle exactly as
WebDataset readers do.
"""

from __future__ import annotations

import hashlib
import io
import tarfile

from pyspark.sql import DataFrame

from .payload import map_payloads

_BLOCK = 512


def make_tar(members: list[tuple[str, bytes]]) -> bytes:
    """A ustar archive of ``(name, content)`` members, in order, written
    by the stdlib ``tarfile`` module with mtime pinned to 0 (fixture
    determinism, the ``make_warc`` convention)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for name, content in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(content)
            ti.mtime = 0
            tf.addfile(ti, io.BytesIO(content))
    return buf.getvalue()


def _octal(field: bytes) -> int:
    """Parse a NUL/space-terminated octal field (the ustar numeric
    encoding)."""
    s = field.split(b"\x00", 1)[0].strip(b" \x00")
    if not s:
        return 0
    return int(s, 8)


def tar_member_table(p: bytes) -> list[dict]:
    """Walk a ustar archive: per member ``(member_idx, name, size,
    typeflag, offset, content_offset)``. See the module docstring for
    validation + fault contract."""
    out: list[dict] = []
    pos = 0
    n = len(p)
    while pos + _BLOCK <= n:
        hdr = p[pos : pos + _BLOCK]
        if hdr == b"\x00" * _BLOCK:
            break  # end-of-archive marker
        ok = hdr[257:262] == b"ustar"
        if ok:
            try:
                stored = _octal(hdr[148:156])
                summed = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
                ok = stored == summed
            except ValueError:
                ok = False
        if not ok:
            if out:
                break  # trailing junk after valid members
            raise ValueError("not a ustar archive (bad magic/checksum)")
        try:
            size = _octal(hdr[124:136])
        except ValueError:
            if out:
                break
            raise ValueError("bad ustar size field")
        name = hdr[:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        prefix = hdr[345:500].split(b"\x00", 1)[0].decode("utf-8", "replace")
        if prefix:
            name = f"{prefix}/{name}"
        content_off = pos + _BLOCK
        end = content_off + (size + _BLOCK - 1) // _BLOCK * _BLOCK
        if end > n:
            if out:
                break  # torn final member
            raise ValueError("truncated ustar member")
        out.append(
            {
                "member_idx": len(out),
                "name": name,
                "size": size,
                "typeflag": chr(hdr[156]) if hdr[156] else "0",
                "offset": pos,
                "content_offset": content_off,
            }
        )
        pos = end
    if not out:
        raise ValueError("no valid ustar member found")
    return out


def tar_members(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    with_content_md5: bool = True,
) -> DataFrame:
    """Map-only 1→N TAR demux: one row per member with name, size,
    byte range, and (optionally) the content md5 — the integrity handle
    a WebDataset-style reader joins on. Unwalkable payloads are skipped
    (the payload-walker quarantine, operators/payload.py)."""

    def walk(p: bytes) -> list[list]:
        return [
            [m["member_idx"], m["name"], m["size"], m["typeflag"],
             m["offset"], m["content_offset"],
             hashlib.md5(
                 p[m["content_offset"] : m["content_offset"] + m["size"]]
             ).hexdigest() if with_content_md5 else None]
            for m in tar_member_table(p)
        ]

    return map_payloads(
        df, walk,
        [("member_idx", "int"), ("name", "string"), ("size", "bigint"),
         ("typeflag", "string"), ("offset", "bigint"),
         ("content_offset", "bigint"), ("content_md5", "string")],
        id_col, payload_col,
    )
