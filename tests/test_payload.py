"""The (id, payload) boundary (operators/payload.py): quarantine of a
failing walk, id-type round-trip, NULL-payload handling, per-row
synthesis, and the fused synth+walk stage."""

from __future__ import annotations

import pandas as pd

from quickstart_streaming_agents_spark.operators.payload import (
    map_payloads,
    payload_ddl,
    payload_rows,
    synth_payloads,
    synth_rows,
)

FIELDS = [("n", "bigint"), ("text", "string")]
BIG = 1 << 62  # past float64's exact-integer range


def _walk(p: bytes) -> list[list]:
    if p == b"bad":
        raise ValueError("corrupt payload")
    return [[BIG + len(p), p.decode()]]


def test_failing_walk_quarantines_only_its_payload(spark):
    df = spark.createDataFrame(
        [("a", b"xy"), ("b", b"bad"), ("c", b"z")],
        "doc_id string, payload binary",
    )
    one_to_one = map_payloads(df, _walk, FIELDS, fail_row=[None, None])
    assert one_to_one.schema["doc_id"].dataType.simpleString() == "string"
    assert sorted(one_to_one.collect()) == [
        ("a", BIG + 2, "xy"), ("b", None, None), ("c", BIG + 1, "z"),
    ]
    one_to_n = map_payloads(df, _walk, FIELDS)
    assert sorted(one_to_n.collect()) == [
        ("a", BIG + 2, "xy"), ("c", BIG + 1, "z"),
    ]


def test_null_payload_walks_as_empty_bytes_unless_null_fails():
    seen = []

    def walk(p: bytes) -> list[list]:
        seen.append(p)
        return [[len(p), "x"]]

    pdf = pd.DataFrame({"doc_id": [1, 2], "payload": [None, b"ab"]})
    [out] = payload_rows(walk, FIELDS, fail_row=[None, None])(iter([pdf]))
    assert seen == [b"", b"ab"]
    assert out["n"].tolist() == [0, 2]

    seen.clear()
    [out] = payload_rows(walk, FIELDS, fail_row=[None, None],
                         null_fails=True)(iter([pdf]))
    assert seen == [b"ab"]
    assert out["n"].isna().tolist() == [True, False]


def test_operators_keep_their_null_payload_result(spark):
    from quickstart_streaming_agents_spark.operators.compress import (
        decompress_text,
        sniff_decompress_text,
    )
    from quickstart_streaming_agents_spark.operators.flac import (
        flac_stream_meta,
    )
    from quickstart_streaming_agents_spark.operators.multimodal import (
        id3_meta,
    )
    from quickstart_streaming_agents_spark.operators.warc import warc_records

    df = spark.createDataFrame([(1, None)], "doc_id long, payload binary")
    # walked as b"": an asset with no ID3 tag
    [r] = id3_meta(df).collect()
    assert (r.has_id3, r.title) == (False, None)
    # quarantined: b"" would decode as an empty plain-text payload
    [r] = sniff_decompress_text(df).collect()
    assert (r.codec, r.text, r.n_bytes) == (None, None, None)
    [r] = decompress_text(df).collect()
    assert (r.text, r.digest) == (None, None)
    [r] = flac_stream_meta(df).collect()
    assert (r.is_flac, r.sample_rate) == (False, None)
    assert warc_records(df).count() == 0


def _make(i: int) -> bytes:
    return b"bad" if i % 3 == 0 else str(i).encode()


def test_synth_calls_make_once_per_row_in_order(spark):
    calls = []

    def make(i, t):
        calls.append((i, t))
        return t.encode()

    pdf = pd.DataFrame({"doc_id": [BIG + 2, 5, BIG], "text": ["a", "b", "c"]})
    [out] = synth_rows(make, ("doc_id", "text"))(iter([pdf]))
    assert calls == [(BIG + 2, "a"), (5, "b"), (BIG, "c")]
    assert list(out.columns) == ["doc_id", "payload"]
    assert out["doc_id"].tolist() == [BIG + 2, 5, BIG]
    [out] = synth_rows(make, ("doc_id", "text"))(iter([pdf.iloc[:0]]))
    assert list(out.columns) == ["doc_id", "payload"] and out.empty

    ids = [BIG + 3, 1, BIG, 7, 2]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(1)
    synth = synth_payloads(df, lambda i: str(i).encode())
    assert synth.schema.simpleString() == "struct<doc_id:bigint,payload:binary>"
    assert synth.collect() == [(i, str(i).encode()) for i in ids]

    empty = synth_payloads(df.limit(0), _make)
    assert empty.schema == synth.schema and empty.collect() == []


def test_fused_synth_walk_keeps_every_quarantine_outcome(spark):
    """Fusing the synth into the walk's ``mapInPandas`` must give the
    rows of the two-stage boundary, on good and garbage payloads."""
    df = spark.range(12).withColumnRenamed("id", "doc_id")
    synth = synth_rows(_make)
    for fail_row in ([None, None], None):
        two_stage = map_payloads(synth_payloads(df, _make), _walk, FIELDS,
                                 fail_row=fail_row)
        walk = payload_rows(_walk, FIELDS, fail_row=fail_row)
        fused = df.mapInPandas(lambda b, walk=walk: walk(synth(b)),
                               schema=f"doc_id long, {payload_ddl(FIELDS)}")
        got = sorted(fused.collect())
        assert got == sorted(two_stage.collect())
        assert len(got) == (12 if fail_row else 8)
