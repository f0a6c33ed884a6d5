"""Compressed-text ingestion — the WARC/json.gz tier.

Beyond-reference surface: web-scale corpora arrive compressed
(Common Crawl WARC/WET are gzip members; JSONL exports are .gz/.zst).
A 100 TB pipeline's first stage is therefore a decompress-and-validate
map: payload bytes → text + integrity metadata, with per-row fault
tolerance (a torn member must quarantine the ROW, not kill the job —
the payload-walker quarantine, operators/payload.py).

Spark-first shape: ``mapInPandas`` over Arrow record batches (stdlib
``zlib``/``gzip`` — no external codec), map-only: the decompressor
fuses into the scan, no shuffle at any corpus size. zstd/lz4 members
would follow the same signature behind an import-try (libraries not in
this runtime — the MP3-decode convention).
"""

from __future__ import annotations

import gzip
import hashlib
import zlib

import pandas as pd
from pyspark.sql import DataFrame

from .payload import map_payloads, synth_payloads


def gzip_compress(text: str, level: int = 6) -> bytes:
    """Deterministic gzip member for a text (mtime pinned to 0 so the
    same text always yields identical bytes — the synth contract)."""
    return gzip.compress(text.encode("utf-8"), compresslevel=level, mtime=0)


def synth_gzip_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic gzip corpus: given a DataFrame with ``doc_id`` and
    ``text``, synthesize (doc_id, payload binary) rows holding each
    text's :func:`gzip_compress` member, torn to its first 10 bytes on
    every 23rd doc_id. Shared by the batch ``gzip_text_ingest`` query and
    its streaming twin so both sides decode the SAME bytes. Map-only."""

    def make(i: int, t: str) -> bytes:
        p = gzip_compress(t)
        return p[:10] if i % 23 == 0 else p  # torn member

    return synth_payloads(docs, make, ("doc_id", "text"))


def _bounded_inflate(p: bytes, wbits: int, cap: int) -> bytes:
    """Inflate at most ``cap`` bytes total; a payload with more output
    left once the budget is spent is a decompression bomb and raises.
    ``decompressobj`` stops AT the cap (never allocates past it), so a
    hostile 40 KB member claiming 4 GB costs ``cap`` bytes, not an
    executor OOM. Keeps the strictness of ``gzip.decompress``: a torn
    member (no end-of-stream marker) and trailing garbage both raise;
    gzip multi-member concatenation is preserved (each member draws on
    the same budget)."""
    out: list[bytes] = []
    left = cap
    data = p
    while True:
        d = zlib.decompressobj(wbits)
        chunk = d.decompress(data, left)
        out.append(chunk)
        left -= len(chunk)
        if d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1):
            raise ValueError(
                f"decompressed output exceeds cap ({cap} bytes)"
            )
        out.append(d.flush())
        if not d.eof:
            raise ValueError("truncated compressed stream")
        data = d.unused_data
        if not data:
            return b"".join(out)
        # gzip members may be concatenated; anything else trailing is junk
        if not (wbits > 16 and data[:2] == b"\x1f\x8b"):
            raise ValueError("trailing garbage after compressed stream")
        # ADVICE r10 (high): when a member's output EXACTLY exhausts the
        # budget, left == 0 — and zlib treats max_length=0 as UNLIMITED,
        # so without this guard the next concatenated member would
        # decompress unbounded (verified bypass: exact-cap member + bomb
        # member returned 10 MB against cap=100). A further member's
        # output is by definition over budget; raise before inflating it.
        if left <= 0:
            raise ValueError(
                f"decompressed output exceeds cap ({cap} bytes)"
            )


_TEXT_FIELDS = [("text", "string"), ("n_bytes", "long"),
                ("digest", "string")]


def _text_row(raw: bytes) -> list:
    return [raw.decode("utf-8"), len(raw), hashlib.md5(raw).hexdigest()]


def decompress_text(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Per-row gzip/zlib-member decode: ``(id_col, text, n_bytes,
    digest)`` with digest = md5 hex of the decompressed UTF-8 text.

    Accepts gzip members (magic ``1f 8b``) and raw zlib streams; torn,
    NULL or non-compressed payloads keep a row with NULL text/meta (the
    payload-walker quarantine, operators/payload.py). ``max_bytes``
    bounds the inflated size per row (ADVICE r8: this stage fronts
    UNTRUSTED web payloads, where a single gzip bomb would otherwise
    expand gigabytes and OOM the executor) — over-cap rows quarantine
    like torn members. Map-only — at 100 TB this is a scan-fused stage
    like the media probes.
    """
    if max_bytes <= 0:
        raise ValueError(f"max_bytes must be positive, got {max_bytes}")

    def walk(p: bytes) -> list[list]:
        wbits = zlib.MAX_WBITS + (16 if p[:2] == b"\x1f\x8b" else 0)
        return [_text_row(_bounded_inflate(p, wbits, max_bytes))]

    return map_payloads(
        df, walk, _TEXT_FIELDS, id_col, payload_col,
        fail_row=[None] * 3, null_fails=True,
    )


def _bounded_stdlib_inflate(decomp, p: bytes, cap: int) -> bytes:
    """Bounded decode through a stdlib incremental decompressor
    (``bz2.BZ2Decompressor`` / ``lzma.LZMADecompressor``): same
    decompression-bomb contract as ``_bounded_inflate`` — never
    allocates past ``cap``, raises on over-budget, torn streams, and
    trailing junk."""
    chunk = decomp.decompress(p, cap)
    if not decomp.eof:
        # either more output than cap (bomb) or a torn stream
        if decomp.needs_input:
            raise ValueError("truncated compressed stream")
        raise ValueError(f"decompressed output exceeds cap ({cap} bytes)")
    if decomp.unused_data:
        raise ValueError("trailing garbage after compressed stream")
    return chunk


def sniff_decompress_text(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Magic-byte codec sniff + decode in one map: ``(id_col, codec,
    text, n_bytes, digest)`` for gzip (``1f 8b``), bzip2 (``BZh``),
    xz (``fd 37 7a 58 5a 00``) and plain UTF-8 payloads.

    A mixed-provenance corpus (Common Crawl WET.gz next to Kaggle
    .bz2 next to archived .xz dumps) lands in ONE ingest stage instead
    of per-codec pipelines — the sniff is 6 bytes, the decode is the
    stdlib codec behind the same bounded-inflate bomb cap as
    ``decompress_text``, and the whole stage stays map-only (scan-fused
    at 100 TB, zero shuffle). Torn members, over-cap output, trailing
    junk, and non-UTF-8 results keep the sniffed codec with NULL
    text/meta; a NULL payload keeps an all-NULL row (the payload-walker
    quarantine, operators/payload.py). zstd/lz4 would slot behind an
    import-try (not in this runtime — the documented codec-tier
    convention)."""
    import bz2
    import lzma

    if max_bytes <= 0:
        raise ValueError(f"max_bytes must be positive, got {max_bytes}")

    def decode(codec: str, p: bytes) -> bytes:
        if codec == "gzip":
            return _bounded_inflate(p, 16 + zlib.MAX_WBITS, max_bytes)
        if codec == "bz2":
            return _bounded_stdlib_inflate(
                bz2.BZ2Decompressor(), p, max_bytes)
        if codec == "xz":
            return _bounded_stdlib_inflate(
                lzma.LZMADecompressor(lzma.FORMAT_XZ), p, max_bytes)
        if len(p) > max_bytes:
            raise ValueError("payload exceeds cap")
        return p

    def walk(p: bytes) -> list[list]:
        if p[:2] == b"\x1f\x8b":
            codec = "gzip"
        elif p[:3] == b"BZh":
            codec = "bz2"
        elif p[:6] == b"\xfd7zXZ\x00":
            codec = "xz"
        else:
            codec = "plain"
        try:
            return [[codec, *_text_row(decode(codec, p))]]
        except (ValueError, EOFError, OSError, zlib.error, lzma.LZMAError):
            # sniffed but undecodable: the codec survives the quarantine
            return [[codec, None, None, None]]

    return map_payloads(
        df, walk, [("codec", "string"), *_TEXT_FIELDS], id_col,
        payload_col, fail_row=[None] * 4, null_fails=True,
    )


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    r"""Unicode normalization + cleanup — the first text transform of the
    published web-curation recipes (CCNet/RefinedWeb normalize before
    anything hashes or tokenizes, or visually-identical strings dedupe
    differently): ``form``-normalize (NFC default), strip C0/C1 control
    characters except tab/newline, collapse runs of ASCII whitespace
    (incl. newlines — single-line normalization) to one space, strip
    edge spaces. The whitespace class is ASCII-EXPLICIT on purpose:
    Python's \s is Unicode while RE2's is ASCII, the classic
    cross-engine trap — with the explicit class both engines see the
    identical transform and post-collapse edges can only be spaces.

    Returns ``(id_col, norm_text, changed)``. Python-tier by necessity
    (Spark has no Unicode-normalization expression; Arrow-batched
    ``mapInPandas``, map-only — scan-fused like the media probes; a JVM
    ICU UDF is the flip-over at true 100 TB). The DuckDB oracle replays
    NFC via its native ``nfc_normalize`` + the same regexps — two
    INDEPENDENT Unicode implementations agreeing on the result.
    """
    import unicodedata
    from collections.abc import Iterator as _It

    import re as _re

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    ctrl = _re.compile(r"[\x00-\x08\x0b-\x1f\x7f-\x9f]")
    runs = _re.compile(r"[ \t\n\r\f\v]+")  # ASCII-explicit, never \s

    def norm(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            ids, outs, changed = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    outs.append(None)
                    changed.append(None)
                else:
                    n = unicodedata.normalize(form, t)
                    n = ctrl.sub("", n)
                    # strip SPACES only (post-collapse edges can only
                    # be spaces; str.strip() would eat Unicode ws the
                    # SQL replay's trim() keeps)
                    n = runs.sub(" ", n).strip(" ")
                    outs.append(n)
                    changed.append(n != t)
                ids.append(i)
            yield pd.DataFrame(
                {id_col: ids, "norm_text": outs, "changed": changed}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        norm, schema=f"{id_col} {id_type}, norm_text string, changed boolean"
    )
