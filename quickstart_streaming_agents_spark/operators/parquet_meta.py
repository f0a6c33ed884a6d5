"""Parquet footer introspection — a real Thrift compact-protocol walk
of the FileMetaData footer, byte-for-byte (no pyarrow in the parse
path).

Beyond-reference surface: a 100 TB lake is millions of parquet files;
manifest auditing (row counts per file/row-group, schema widths,
codecs, suspicious row-group shapes) must come from the FOOTERS alone
— reading any data page to count rows is a non-starter. This module
is the storage-layer analog of operators/warc.py: footers arrive as a
binary column (e.g. via ``spark.read.format("binaryFile")`` taking
just the file tails), the walk emits one row per row group.

Format (public Apache Parquet spec): the file ends with
``<footer thrift bytes> <u32 LE footer_len> "PAR1"`` (and begins with
"PAR1"). The footer is a Thrift *compact protocol* ``FileMetaData``
struct — field ids we read:

* 1 version (i32), 3 num_rows (i64), 6 created_by (string)
* 2 schema: list<SchemaElement> — leaf columns are the elements
  WITHOUT a num_children field (field 5), skipping the root
* 4 row_groups: list<RowGroup{1: columns list<ColumnChunk>,
  2: total_byte_size i64, 3: num_rows i64}>; ColumnChunk field 3 is
  ColumnMetaData{4: codec i32, 6/7: un/compressed sizes i64}

The Thrift reader below is generic (field-id → value dicts, lists as
lists, structs recursive) and deliberately tiny: varint + zigzag +
the compact type table. Unknown fields are skipped by type — footers
written by any producer version parse.

Correctness: the queries.py entry oracle-checks the ANALYTIC fields
(row counts, group shapes, column counts) against planted values;
byte sizes and codecs — which no oracle can replay — are pinned in
tests against pyarrow.parquet's OWN metadata API over the same bytes
(an independent reference implementation of the same spec).

Spark-first shape: map-only 1→N ``mapInPandas``.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from .payload import map_payloads

_STOP = 0
_BOOL_TRUE, _BOOL_FALSE = 1, 2
_I8, _I16, _I32, _I64, _DOUBLE = 3, 4, 5, 6, 7
_BINARY, _LIST, _SET, _MAP, _STRUCT = 8, 9, 10, 11, 12


class _Reader:
    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0

    def byte(self) -> int:
        v = self.b[self.pos]
        self.pos += 1
        return v

    def varint(self) -> int:
        out = shift = 0
        while True:
            v = self.byte()
            out |= (v & 0x7F) << shift
            if not v & 0x80:
                return out
            shift += 7
            if shift > 70:
                raise ValueError("thrift varint too long")

    def zigzag(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def value(self, ttype: int):
        if ttype in (_BOOL_TRUE, _BOOL_FALSE):
            return ttype == _BOOL_TRUE
        if ttype == _I8:
            return self.byte()
        if ttype in (_I16, _I32, _I64):
            return self.zigzag()
        if ttype == _DOUBLE:
            v = struct.unpack_from("<d", self.b, self.pos)[0]
            self.pos += 8
            return v
        if ttype == _BINARY:
            n = self.varint()
            v = self.b[self.pos : self.pos + n]
            if len(v) != n:
                raise ValueError("truncated thrift binary")
            self.pos += n
            return v
        if ttype in (_LIST, _SET):
            hdr = self.byte()
            size = hdr >> 4
            etype = hdr & 0x0F
            if size == 15:
                size = self.varint()
            return [self.value(etype) for _ in range(size)]
        if ttype == _MAP:
            size = self.varint()
            if size == 0:
                return {}
            kv = self.byte()
            return {
                # parquet footers carry no maps we read; parse generically
                self._hashable(self.value(kv >> 4)): self.value(kv & 0x0F)
                for _ in range(size)
            }
        if ttype == _STRUCT:
            return self.struct()
        raise ValueError(f"unknown thrift compact type {ttype}")

    @staticmethod
    def _hashable(v):
        return bytes(v) if isinstance(v, bytearray) else v

    def struct(self) -> dict:
        out: dict[int, object] = {}
        fid = 0
        while True:
            hdr = self.byte()
            if hdr == _STOP:
                return out
            delta = hdr >> 4
            ttype = hdr & 0x0F
            fid = fid + delta if delta else self.zigzag()
            out[fid] = self.value(ttype)


def parquet_file_meta(p: bytes) -> dict:
    """Parse one parquet file's footer (whole file or just its tail —
    anything ending with ``footer+len+PAR1``). Raises on not-parquet
    or a torn footer."""
    if len(p) < 12 or p[-4:] != b"PAR1":
        raise ValueError("not a parquet payload (no trailing PAR1)")
    (flen,) = struct.unpack_from("<I", p, len(p) - 8)
    if flen + 8 > len(p):
        raise ValueError("parquet footer length exceeds payload")
    meta = _Reader(p[len(p) - 8 - flen : len(p) - 8]).struct()
    schema = meta.get(2) or []
    # leaf columns: non-root elements without num_children (field 5)
    n_leaf = sum(1 for el in schema[1:] if 5 not in el)
    groups = []
    for rg in meta.get(4) or []:
        chunks = rg.get(1) or []
        codecs = sorted(
            {c.get(3, {}).get(4) for c in chunks if 3 in c} - {None}
        )
        groups.append(
            {
                "num_rows": rg.get(3, 0),
                "total_byte_size": rg.get(2, 0),
                "n_col_chunks": len(chunks),
                "codecs": codecs,
                "total_compressed_size": sum(
                    c.get(3, {}).get(7, 0) for c in chunks
                ),
            }
        )
    return {
        "version": meta.get(1),
        "num_rows": meta.get(3, 0),
        "created_by": (meta.get(6) or b"").decode("utf-8", "replace") or None,
        "n_leaf_columns": n_leaf,
        "row_groups": groups,
    }


def parquet_footer_index(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Map-only 1→N footer walk: one row per row group with the file-
    level identity fields repeated (the warc_records shape).
    Unparseable payloads are skipped (the payload-walker quarantine,
    operators/payload.py)."""

    def walk(p: bytes) -> list[list]:
        m = parquet_file_meta(p)
        return [
            [gi, g["num_rows"], m["num_rows"], len(m["row_groups"]),
             m["n_leaf_columns"], m["version"], g["n_col_chunks"],
             m["created_by"] is not None]
            for gi, g in enumerate(m["row_groups"])
        ]

    return map_payloads(
        df, walk,
        [("rg_idx", "int"), ("rg_num_rows", "long"),
         ("file_num_rows", "long"), ("n_row_groups", "int"),
         ("n_leaf_columns", "int"), ("version", "int"),
         ("n_col_chunks", "int"), ("has_created_by", "boolean")],
        id_col, payload_col,
    )
