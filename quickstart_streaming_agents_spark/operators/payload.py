"""The (id, payload) boundary: the one place where binary payloads
cross the JVM↔Python boundary, one Arrow-batched ``mapInPandas`` per
call. Two halves share it:

* synthesis (``synth_rows`` / ``synth_payloads``): a per-id maker
  ``make(*row) -> bytes`` builds each row's payload from its ``cols``
  values. A maker is deterministic per id and never raises; a
  deliberately corrupt asset is just bytes it returns.
* walking (``payload_rows`` / ``map_payloads``): a walker turns each
  payload into typed rows — the warc/tar/zip/ogg/flac/avro/parquet/
  exif/id3/mp3/mp4 demuxes, the compress decoders, dHash and the audio
  energy signature.

A fused stage composes the two inside one ``mapInPandas``,
``payload_rows(walk, …)(synth_rows(make)(batches))``, so the payload
bytes never cross the boundary; its rows are those of the two-stage
``map_payloads(synth_payloads(…), walk, …)``.

Walking quarantines:

* ``walk(p: bytes)`` returns the output rows of one payload, each a
  list of values in ``fields`` order; the id column is prepended here.
* The ``try`` wraps only that call. A walk that raises quarantines the
  payload: 1→1 walkers emit their ``fail_row`` (all-NULL unless a
  column reports the failure itself), so row counts stay 1:1 for audit
  joins; 1→N walkers (``fail_row=None``) emit no row. One corrupt
  asset never fails the task.
* A NULL payload is walked as ``b""`` — which every walker except
  ``id3_meta`` (tag-less) rejects — or, with ``null_fails``,
  quarantined without a walk (the compress decoders, where empty bytes
  are a valid plain payload).
* ``fields`` — (name, Spark DDL type) pairs — yields both the pandas
  columns and the output schema. Integral columns are built as
  nullable pandas integers, so a quarantined NULL never turns an int64
  column into lossy float64.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame

Make = Callable[..., bytes]
Walk = Callable[[bytes], list]
Fields = Sequence[tuple[str, str]]

_NULLABLE_INT = {"tinyint": "Int8", "smallint": "Int16", "int": "Int32",
                 "bigint": "Int64", "long": "Int64"}


def payload_ddl(fields: Fields) -> str:
    """``fields`` as a Spark DDL column list."""
    return ", ".join(f"{name} {typ}" for name, typ in fields)


def synth_rows(
    make: Make, cols: Sequence[str] = ("doc_id",)
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The pandas batch body of ``synth_payloads``: batches holding
    ``cols`` (``doc_id`` among them) in, ``(doc_id, payload)`` batches
    out, with one ``make(*row)`` call per input row, in input order.
    Fused stages compose it in front of ``payload_rows``."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = zip(*(pdf[c].tolist() for c in cols), strict=True)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "payload": [make(*row) for row in rows],
            })

    return body


def synth_payloads(
    df: DataFrame, make: Make, cols: Sequence[str] = ("doc_id",)
) -> DataFrame:
    """One map-only ``mapInPandas`` over ``df``'s ``cols``: a
    ``(doc_id long, payload binary)`` row per input row, per the module
    contract. It never spreads; callers that want the Python work fanned
    out hand it a ``spread_scan``-ed frame."""
    return df.select(*cols).mapInPandas(
        synth_rows(make, cols), schema="doc_id long, payload binary"
    )


def payload_rows(
    walk: Walk,
    fields: Fields,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fail_row: Sequence | None = None,
    null_fails: bool = False,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The pandas batch body of ``map_payloads``: ``(id, payload)``
    batches in, ``(id, *fields)`` batches out, per the module contract.
    Fused stages compose it behind ``synth_rows``."""
    failed = [] if fail_row is None else [list(fail_row)]

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rows = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                out = failed
                if payload is not None or not null_fails:
                    try:
                        out = walk(bytes(payload or b""))
                    except Exception:
                        out = failed
                ids.extend([i] * len(out))
                rows.extend(out)
            cols = list(zip(*rows, strict=True)) or [()] * len(fields)
            yield pd.DataFrame({
                # the input id dtype round-trips (string ids stay strings)
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                **{name: pd.Series(col, dtype=_NULLABLE_INT.get(typ, object))
                   for (name, typ), col in zip(fields, cols, strict=True)},
            })

    return body


def map_payloads(
    df: DataFrame,
    walk: Walk,
    fields: Fields,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fail_row: Sequence | None = None,
    null_fails: bool = False,
) -> DataFrame:
    """One map-only ``mapInPandas`` over ``df``'s ``(id_col,
    payload_col)``: ``(id_col, *fields)`` rows per the module contract,
    the id column keeping ``df``'s type."""
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, payload_col).mapInPandas(
        payload_rows(walk, fields, id_col, payload_col, fail_row,
                     null_fails),
        schema=f"{id_col} {id_type}, {payload_ddl(fields)}",
    )
