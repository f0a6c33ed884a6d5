"""Avro Object Container File (OCF) block walk — the on-disk Avro
format of data-lake landing zones (the file sibling of the Confluent
wire format in sources/avro.py, which frames single records for
Kafka; an OCF frames BLOCKS of records between sync markers).

Layout (public Avro 1.11 spec):

* magic ``Obj\\x01``
* file metadata — an Avro ``map<string,bytes>``: repeated blocks of
  ``count`` (zigzag-varint long; NEGATIVE count means |count| entries
  preceded by a byte-size long, per spec) then count × (len-prefixed
  key, len-prefixed value), terminated by a 0 count. Reserved keys:
  ``avro.schema`` (JSON), ``avro.codec``.
* a 16-byte sync marker.
* data blocks until EOF: record ``count`` (long), byte ``size``
  (long), ``size`` bytes of serialized records, then the sync marker
  — which must equal the header's (that equality is how readers
  resynchronize after corruption, and what this walk verifies).

Fault contract (warc_record_table convention): bad magic / torn
header raises; a torn FINAL block or a sync mismatch ends the walk
gracefully with the blocks already indexed.

Spark-first shape: map-only 1→N ``mapInPandas``; the emitted
(count, size) index is what a 100 TB backfill uses to size splits
and audit landing files without decoding a record.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from quickstart_streaming_agents_spark.operators.payload import map_payloads

from quickstart_streaming_agents_spark.sources.avro import (
    _read_long,
    _write_long,
)

MAGIC = b"Obj\x01"


def make_ocf(
    blocks: list[list[bytes]],
    schema_json: str,
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    extra_meta: dict[str, bytes] | None = None,
) -> bytes:
    """Assemble an OCF: each element of ``blocks`` is a list of
    already-serialized records (this module indexes frames, it does
    not re-encode payloads)."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(),
            "avro.codec": codec.encode(), **(extra_meta or {})}
    _write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(out, len(kb))
        out += kb
        _write_long(out, len(v))
        out += v
    _write_long(out, 0)
    out += sync
    for recs in blocks:
        payload = b"".join(recs)
        _write_long(out, len(recs))
        _write_long(out, len(payload))
        out += payload + sync
    return bytes(out)


def _read_bytes(p: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(p, pos)
    if n < 0 or pos + n > len(p):
        raise ValueError("truncated avro bytes value")
    return p[pos : pos + n], pos + n


def ocf_table(p: bytes) -> dict:
    """Walk one OCF: header metadata + per-block (count, size, sync
    verdict). See module fault contract."""
    if p[:4] != MAGIC:
        raise ValueError("not an Avro OCF payload")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _read_long(p, pos)
        if count == 0:
            break
        if count < 0:
            # spec: negative count = |count| entries preceded by size
            _, pos = _read_long(p, pos)
            count = -count
        for _ in range(count):
            k, pos = _read_bytes(p, pos)
            v, pos = _read_bytes(p, pos)
            meta[k.decode("utf-8", "replace")] = v
    sync = p[pos : pos + 16]
    if len(sync) != 16:
        raise ValueError("truncated OCF sync marker")
    pos += 16
    codec = meta.get("avro.codec", b"null").decode("utf-8", "replace")
    schema_name = None
    try:
        schema = json.loads(meta.get("avro.schema", b"null"))
        if isinstance(schema, dict):
            schema_name = schema.get("name")
    except ValueError:
        pass  # unparseable schema JSON: name stays NULL, walk continues
    blocks: list[dict] = []
    while pos < len(p):
        try:
            n_records, q = _read_long(p, pos)
            size, q = _read_long(p, q)
            if n_records < 0 or size < 0 or q + size + 16 > len(p):
                break  # torn final block
        except (ValueError, IndexError):
            # _read_long raises IndexError on a buffer torn mid-varint
            break
        block_sync = p[q + size : q + size + 16]
        if block_sync != sync:
            break  # lost framing: stop at the last verified block
        blocks.append(
            {"block_idx": len(blocks), "n_records": n_records,
             "byte_size": size}
        )
        pos = q + size + 16
    return {
        "codec": codec,
        "schema_name": schema_name,
        "n_meta_entries": len(meta),
        "blocks": blocks,
    }


def ocf_block_index(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Map-only 1→N OCF block index: one row per data block with the
    file-level metadata repeated. Unparseable payloads are skipped (the
    payload-walker quarantine, operators/payload.py)."""

    def walk(p: bytes) -> list[list]:
        t = ocf_table(p)
        return [
            [b["block_idx"], b["n_records"], b["byte_size"], t["codec"],
             t["schema_name"], t["n_meta_entries"], len(t["blocks"])]
            for b in t["blocks"]
        ]

    return map_payloads(
        df, walk,
        [("block_idx", "int"), ("n_records", "long"),
         ("byte_size", "long"), ("codec", "string"),
         ("schema_name", "string"), ("n_meta_entries", "int"),
         ("n_blocks", "int")],
        id_col, payload_col,
    )
