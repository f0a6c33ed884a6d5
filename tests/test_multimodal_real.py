"""Golden-byte tests for the REAL multimodal decoders.

``_decode_bmp`` / ``_decode_wav`` parse the public Windows-DIB and
RIFF/WAVE layouts with pure struct/numpy; these tests pin them against
hand-assembled hex payloads (not produced by the sibling encoders), then
round-trip the ``make_bmp``/``make_wav`` encoders through the decoders,
check ``_real_features`` on analytically-known inputs, and drive the
``decoder="real"`` mapInPandas path end to end — including the per-row
NULL-row quarantine (one corrupt asset must NOT fail the job).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickstart_streaming_agents_spark.operators.multimodal import (
    _decode_bmp,
    _decode_png,
    _decode_wav,
    _real_decode,
    _real_features,
    extract_media_features,
    make_bmp,
    make_png,
    make_wav,
)

# 1×1 bottom-up 24-bpp BMP, single red pixel RGB(255,0,0) — assembled by
# hand from the spec: 14-byte file header, 40-byte BITMAPINFOHEADER,
# BGR storage, row padded to 4 bytes.
GOLDEN_BMP_1x1_RED = bytes.fromhex(
    "424d3a000000000000003600000028000000"
    "0100000001000000010018000000000004000000"
    "130b0000130b00000000000000000000"
    "0000ff00"
)

# Mono PCM-16 WAV, 8000 Hz, two samples [1000, -1000] — hand-assembled.
GOLDEN_WAV_2SAMPLES = bytes.fromhex(
    "524946462800000057415645"
    "666d74201000000001000100401f0000803e00000200100064617461"
    "04000000"
    "e80318fc"
)


def test_decode_bmp_golden_bytes():
    meta, rgb = _decode_bmp(GOLDEN_BMP_1x1_RED)
    assert meta == {
        "media_type": "image",
        "width": 1,
        "height": 1,
        "n_frames": 1,
        "duration_ms": 0,
    }
    assert rgb.shape == (1, 1, 3)
    assert rgb.tolist() == [[[255, 0, 0]]]


def test_decode_wav_golden_bytes():
    meta, samples = _decode_wav(GOLDEN_WAV_2SAMPLES)
    assert meta == {
        "media_type": "audio",
        "width": 1,  # channels
        "height": None,
        "n_frames": 2,
        "duration_ms": 0,  # round(2 * 1000 / 8000) = 0
    }
    assert samples.tolist() == [[1000], [-1000]]


@pytest.mark.parametrize("top_down", [False, True])
def test_bmp_roundtrip_row_order_and_padding(top_down):
    # 3 wide → 9 pixel bytes/row, padded to 12: exercises the pad path;
    # distinct corner pixels catch any row-order or BGR mix-up.
    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    meta, decoded = _decode_bmp(make_bmp(rgb, top_down=top_down))
    assert (meta["width"], meta["height"]) == (3, 2)
    assert np.array_equal(decoded, rgb)


def test_wav_roundtrip_stereo():
    samples = np.array([[100, -100], [2000, 3000], [-32768, 32767]],
                       dtype=np.int16)
    meta, decoded = _decode_wav(make_wav(samples, rate=16000))
    assert meta["width"] == 2
    assert meta["n_frames"] == 3
    assert meta["duration_ms"] == round(3 * 1000 / 16000)
    assert np.array_equal(decoded, samples)


def test_decode_bmp_rejects_malformed():
    with pytest.raises(ValueError):
        _decode_bmp(b"notabmp")
    with pytest.raises(ValueError):
        _decode_bmp(GOLDEN_BMP_1x1_RED[:-2])  # truncated pixel data
    bad_bpp = bytearray(GOLDEN_BMP_1x1_RED)
    bad_bpp[28] = 8  # 8-bpp unsupported
    with pytest.raises(ValueError):
        _decode_bmp(bytes(bad_bpp))


def test_decode_wav_rejects_malformed():
    with pytest.raises(ValueError):
        _decode_wav(b"RIFFxxxxNOPE")
    bad_fmt = bytearray(GOLDEN_WAV_2SAMPLES)
    bad_fmt[20] = 2  # audio_fmt=2 (ADPCM) unsupported
    with pytest.raises(ValueError):
        _decode_wav(bytes(bad_fmt))


def test_real_features_image_histogram():
    # Constant-gray image → all histogram mass in one bin → one-hot.
    rgb = np.full((4, 4, 3), 200, dtype=np.uint8)  # gray 200/255 → bin 6
    meta, arr = _decode_bmp(make_bmp(rgb))
    feats = _real_features(meta, arr, dim=8)
    expected = [0.0] * 8
    expected[int(200 / 255 * 8)] = 1.0
    assert feats == expected
    # Half black / half white → two bins, L2-normalized to 1/sqrt(2).
    rgb2 = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb2[0, :, :] = 255
    meta2, arr2 = _decode_bmp(make_bmp(rgb2))
    feats2 = _real_features(meta2, arr2, dim=8)
    assert feats2[0] == pytest.approx(1 / math.sqrt(2))
    assert feats2[7] == pytest.approx(1 / math.sqrt(2))
    assert sum(1 for f in feats2 if f != 0.0) == 2


def test_real_features_audio_rms():
    # Constant |amplitude| → every segment has the same RMS → each
    # normalized component is exactly 1/sqrt(dim).
    samples = np.full(32, 5000, dtype=np.int16)
    meta, arr = _decode_wav(make_wav(samples))
    feats = _real_features(meta, arr, dim=8)
    assert feats == pytest.approx([1 / math.sqrt(8)] * 8)


def test_decoder_real_spark_end_to_end_with_error_tolerance(spark):
    rgb = np.full((2, 2, 3), 10, dtype=np.uint8)
    rows = [
        (1, make_bmp(rgb)),
        (2, b"corrupt payload"),
        (3, None),
        (4, make_bmp(np.full((3, 1, 3), 255, dtype=np.uint8))),
    ]
    df = spark.createDataFrame(rows, "doc_id int, payload binary")
    out = (
        extract_media_features(df, "payload", media_type="image",
                               decoder="real")
        .select("doc_id", "media_meta.width", "media_meta.height",
                F.element_at("features", 1).alias("f0"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, r.width, r.height) for r in out] == [
        (1, 2, 2), (2, None, None), (3, None, None), (4, 1, 3),
    ]
    assert out[0].f0 == pytest.approx(1.0)  # gray 10/255 → bin 0 one-hot
    assert out[1].f0 is None and out[2].f0 is None

    with pytest.raises(Exception, match="BMP"):
        _real_decode(b"corrupt payload", "image")


def test_decoder_real_audio_spark(spark):
    rows = [(1, make_wav(np.full(16, 1000, dtype=np.int16), rate=8000))]
    df = spark.createDataFrame(rows, "doc_id int, payload binary")
    r = extract_media_features(df, "payload", media_type="audio",
                               decoder="real").collect()[0]
    assert r.media_meta.n_frames == 16
    assert r.media_meta.duration_ms == 2
    assert r.features[0] == pytest.approx(1 / math.sqrt(8), rel=1e-6)


def test_media_type_col_per_row_dispatch(spark):
    rows = [
        (1, "image", make_bmp(np.full((2, 2, 3), 10, dtype=np.uint8))),
        (2, "audio", make_wav(np.full(8, 1000, dtype=np.int16))),
        (3, "video", b"anything"),  # unsupported type → null, not task fail
    ]
    df = spark.createDataFrame(rows, "doc_id int, mt string, payload binary")
    out = (
        extract_media_features(df, "payload", decoder="real",
                               media_type_col="mt")
        .select("doc_id", "media_meta.media_type", "media_meta.n_frames")
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, r.media_type, r.n_frames) for r in out] == [
        (1, "image", 1), (2, "audio", 8), (3, None, None),
    ]


# ---------------------------------------------------------------------------
# PNG (_decode_png / make_png): stdlib-zlib real decode, all five filters.
# ---------------------------------------------------------------------------

# 2×2 8-bit RGB PNG, assembled chunk-by-chunk from RFC 2083 (signature,
# IHDR(2,2,8,ct=2), one IDAT whose inflated stream is row0 with filter
# None and row1 with filter Up, IEND; CRC32 per chunk). Pixels:
# (255,0,0)(0,255,0) / (0,0,255)(255,255,255). NOT produced by make_png.
GOLDEN_PNG_2x2 = bytes.fromhex(
    "89504e470d0a1a0a"
    "0000000d4948445200000002000000020802000000fdd49a73"
    "000000164944415478da63f8cfc0c0f09f818991e1ff7f86ff001e0404ff4e509ec7"
    "0000000049454e44ae426082"
)


def test_decode_png_golden_bytes():
    meta, rgb = _decode_png(GOLDEN_PNG_2x2)
    assert meta == {
        "media_type": "image",
        "width": 2,
        "height": 2,
        "n_frames": 1,
        "duration_ms": 0,
    }
    assert rgb.tolist() == [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [255, 255, 255]],
    ]


@pytest.mark.parametrize("color_type", [0, 2, 4, 6])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters_and_color_types(color_type, filter_type):
    # random pixels so every filter's byte recurrence is non-trivial;
    # width 5 → odd stride exercises the i>=channels boundary per filter.
    rng = np.random.RandomState(color_type * 10 + filter_type)
    rgb = rng.randint(0, 256, (4, 5, 3), dtype=np.uint8)
    payload = make_png(rgb, color_type=color_type, filter_type=filter_type)
    meta, decoded = _decode_png(payload)
    assert (meta["width"], meta["height"]) == (5, 4)
    if color_type in (2, 6):
        assert np.array_equal(decoded, rgb)
    else:  # gray paths store the channel mean, replicated on decode
        gray = rgb.mean(axis=2).astype(np.uint8)
        assert np.array_equal(decoded[:, :, 0], gray)
        assert np.array_equal(decoded[:, :, 0], decoded[:, :, 1])
        assert np.array_equal(decoded[:, :, 0], decoded[:, :, 2])


def test_decode_png_rejects_malformed():
    with pytest.raises(ValueError, match="signature"):
        _decode_png(b"not a png")
    # flip one IHDR byte: CRC must catch it
    bad_crc = bytearray(GOLDEN_PNG_2x2)
    bad_crc[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        _decode_png(bytes(bad_crc))
    with pytest.raises(ValueError, match="truncated"):
        _decode_png(GOLDEN_PNG_2x2[:30])
    # 16-bit depth is out of scope and must fail loudly, not garble
    import struct as _struct
    import zlib as _zlib
    ihdr = _struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    chunk = (_struct.pack(">I", 13) + b"IHDR" + ihdr
             + _struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
    with pytest.raises(ValueError, match="8-bit"):
        _decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_real_decode_sniffs_png_vs_bmp(spark):
    # same media_type="image" column carrying BOTH container formats —
    # magic-byte sniffing dispatches per row inside one mapInPandas pass.
    rows = [
        (1, make_bmp(np.full((2, 2, 3), 10, dtype=np.uint8))),
        (2, make_png(np.full((3, 4, 3), 10, dtype=np.uint8),
                     filter_type=4)),
        (3, GOLDEN_PNG_2x2),
    ]
    df = spark.createDataFrame(rows, "doc_id int, payload binary")
    out = (
        extract_media_features(df, "payload", media_type="image",
                               decoder="real")
        .select("doc_id", "media_meta.width", "media_meta.height",
                F.element_at("features", 1).alias("f0"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, r.width, r.height) for r in out] == [
        (1, 2, 2), (2, 4, 3), (3, 2, 2),
    ]
    # constant gray 10/255 → histogram one-hot in bin 0 for rows 1 and 2
    assert out[0].f0 == pytest.approx(1.0)
    assert out[1].f0 == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# GIF (operators/multimodal.make_gif / _decode_gif / LZW codec)
# ---------------------------------------------------------------------------

def test_decode_gif_canonical_third_party_bytes():
    """A canonical minimal 1×1 GIF89a (white pixel, as emitted by standard
    tools — widely published payload) must decode exactly: pins the LZW
    bit-packing and block-walk conventions against real-world bytes, not
    just against our own encoder."""
    from quickstart_streaming_agents_spark.operators.multimodal import _decode_gif

    canon = bytes.fromhex(
        "47494638396101000100800000ffffff000000"
        "21f90400000000002c00000000010001000002024401003b"
    )
    meta, arr = _decode_gif(canon)
    assert meta == {"media_type": "image", "width": 1, "height": 1,
                    "n_frames": 1, "duration_ms": 0}
    assert arr.tolist() == [[[255, 255, 255]]]


def test_gif_roundtrip_multiframe_and_delay():
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_gif,
        make_gif,
    )

    rgb = np.zeros((2, 3, 3), np.uint8)
    rgb[0, 0] = (255, 0, 0)
    rgb[1, 2] = (0, 0, 255)
    f2 = rgb.copy()
    f2[0, 1] = (0, 255, 0)
    p = make_gif([rgb, f2], delay_cs=7)
    meta, arr = _decode_gif(p, media_type="video")
    assert meta == {"media_type": "video", "width": 3, "height": 2,
                    "n_frames": 2, "duration_ms": 140}
    assert (arr == rgb).all()  # first frame, exact


def test_gif_lzw_code_width_growth_roundtrip():
    """Force the LZW code width through its growth path (the off-by-one
    between encoder-side and decoder-side width bumps is THE classic GIF
    codec bug): 200 distinct colors over a 40×50 frame grows 8→12-bit
    codes; a 7-color pattern grows 3→4→5-bit codes. Both must round-trip
    bit-exactly."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_gif,
        make_gif,
    )

    rng = np.random.RandomState(7)
    palette = rng.randint(0, 256, size=(200, 3)).astype(np.uint8)
    rgb = palette[rng.randint(0, 200, size=(40, 50))]
    meta, arr = _decode_gif(make_gif(rgb, delay_cs=3))
    assert (arr == rgb).all() and meta["n_frames"] == 1

    pal2 = np.array([[i * 30 % 256, i * 7 % 256, i * 11 % 256]
                     for i in range(7)], np.uint8)
    rgb2 = pal2[(np.arange(30 * 30) % 7).reshape(30, 30)]
    _, a2 = _decode_gif(make_gif(rgb2))
    assert (a2 == rgb2).all()


def test_decode_gif_rejects_malformed():
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_gif,
        make_gif,
    )

    good = make_gif(np.full((2, 2, 3), 9, np.uint8))
    for bad in (b"", b"GIF89a", good[:20], good[:-1],
                b"NOTGIF" + good[6:]):
        with pytest.raises(ValueError):
            _decode_gif(bad)


def test_decoder_real_video_gif_spark(spark):
    """media_type='video' + animated GIF through the production
    mapInPandas path: real n_frames/duration decode, histogram features
    over the first frame, non-GIF video payload lands on the
    NotImplementedError → NULL-row quarantine."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        extract_media_features,
        make_gif,
    )

    rgb = np.full((3, 4, 3), 128, np.uint8)
    f2 = np.full((3, 4, 3), 64, np.uint8)
    rows = [
        (1, bytearray(make_gif([rgb, f2], delay_cs=5))),
        (2, bytearray(b"\x00\x00\x00\x18ftypmp42 not decodable")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in extract_media_features(
        df, "payload", media_type="video", decoder="real",
    ).select("doc_id", "media_meta.*", "features").collect()}
    ok = out[1]
    assert (ok.media_type, ok.width, ok.height, ok.n_frames,
            ok.duration_ms) == ("video", 4, 3, 2, 100)
    # constant-128 first frame → one-hot histogram at bin 5 of 8 (1-based)
    assert ok.features[4] == pytest.approx(1.0)
    assert out[2].media_type is None and out[2].features is None


def test_sample_frames_real_gif(spark):
    """Real frame sampling: every_nth GIF frames re-encoded as standalone
    PNGs (each decodable by the image path); a torn payload, whose GIF
    decode raises, emits no frame rows."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_gif,
        _decode_png,
        make_gif,
        sample_frames,
    )

    frames = [np.full((2, 2, 3), v, np.uint8) for v in (10, 80, 200, 30, 99)]
    good = make_gif(frames, delay_cs=2)
    rows = [(1, bytearray(good)), (2, bytearray(good[:15]))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = sample_frames(df, "payload", every_nth=2, decoder="real").collect()
    assert sorted((r.doc_id, r.frame_idx) for r in out) == \
        [(1, 0), (1, 2), (1, 4)]
    for r in out:
        meta, arr = _decode_png(bytes(r.frame_payload))
        assert (meta["width"], meta["height"]) == (2, 2)
        assert (arr == frames[r.frame_idx]).all()

    with pytest.raises(Exception):
        _decode_gif(good[:15], media_type="video", collect_all=True)


def test_sample_frame_features_matches_chained_operators(spark):
    """The fused per-payload body (sample_frame_features) produces
    exactly what sample_frames(decoder='real') chained into
    extract_media_features(decoder='real') produces, including the
    torn-payload raise — the single-Python-stage fusion contract
    video_frame_sample_real relies on."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        extract_media_features,
        make_gif,
        sample_frame_features,
        sample_frames,
    )

    frames = [np.full((3, 2, 3), (7 + 41 * f) % 256, np.uint8)
              for f in range(5)]
    good = make_gif(frames, delay_cs=3)

    df = spark.createDataFrame([(1, bytearray(good))],
                               "doc_id long, payload binary")
    chained = extract_media_features(
        sample_frames(df, "payload", every_nth=2, decoder="real")
        .drop("payload"),
        "frame_payload", media_type="image", decoder="real",
    ).collect()
    chained_rows = sorted(
        (r.frame_idx,
         (r.media_meta.media_type, r.media_meta.width,
          r.media_meta.height),
         [pytest.approx(x) for x in r.features])
        for r in chained
    )

    fused = sorted(
        (fi, (m["media_type"], m["width"], m["height"]), feats)
        for fi, m, feats in sample_frame_features(good, every_nth=2)
    )
    assert [(fi, mk) for fi, mk, _ in fused] == \
        [(fi, mk) for fi, mk, _ in chained_rows]
    for (_, _, f_feats), (_, _, c_feats) in zip(fused, chained_rows):
        assert c_feats == f_feats

    # torn payload: the body raises; quarantining it is the caller's
    # job (the query drops the doc, as sample_frames does)
    with pytest.raises(Exception):
        sample_frame_features(good[:15], every_nth=2)


# ---------------------------------------------------------------------------
# JPEG — baseline T.81 codec
# ---------------------------------------------------------------------------

_ONES_QT = (np.ones((8, 8), np.int64), np.ones((8, 8), np.int64))


def test_jpeg_constant_blocks_bit_exact_with_flat_tables():
    """With all-ones quantization tables a constant-color image survives
    the full encode→decode cycle bit-exactly: only the (integral) DC
    coefficient is nonzero, so no quantization or DCT rounding error."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    for v in (0, 37, 128, 200, 255):
        img = np.full((16, 24, 3), v, np.uint8)
        meta, out = _decode_jpeg(make_jpeg(img, quant_tables=_ONES_QT))
        assert (meta["width"], meta["height"]) == (24, 16)
        assert meta["media_type"] == "image" and meta["n_frames"] == 1
        assert (out == img).all()


def test_jpeg_marker_structure():
    """The emitted stream is structurally valid baseline JFIF: SOI, APP0
    JFIF, two DQTs, SOF0 with 3 components, four DHTs, SOS, EOI — walked
    by an independent marker scanner (not the decoder)."""
    from quickstart_streaming_agents_spark.operators.multimodal import make_jpeg

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    p = make_jpeg(img, quality=80)
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    pos, seen = 2, []
    while True:
        assert p[pos] == 0xFF
        marker = p[pos + 1]
        seen.append(marker)
        if marker == 0xDA:
            break
        seg_len = int.from_bytes(p[pos + 2 : pos + 4], "big")
        pos += 2 + seg_len
    assert seen[0] == 0xE0  # APP0 JFIF first
    assert p[6:11] == b"JFIF\x00"
    assert seen.count(0xDB) == 2 and seen.count(0xC4) == 4
    assert seen.count(0xC0) == 1 and seen[-1] == 0xDA


@pytest.mark.parametrize("subsampling", ["444", "420"])
def test_jpeg_roundtrip_tolerance(subsampling):
    """Lossy round trip at quality 95 stays close on a smooth gradient
    (both chroma layouts) and luma is preserved even under 4:2:0."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [(yy * 5) % 256, (xx * 3) % 256, (yy + xx) % 256], axis=2
    ).astype(np.uint8)
    meta, out = _decode_jpeg(make_jpeg(img, quality=95, subsampling=subsampling))
    assert (meta["width"], meta["height"]) == (40, 24)
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 3.0


def test_jpeg_quality_monotone_and_grayscale():
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (21, 19, 3), np.uint8)
    errs = [
        np.abs(
            _decode_jpeg(make_jpeg(img, quality=q))[1].astype(int)
            - img.astype(int)
        ).mean()
        for q in (10, 50, 95)
    ]
    assert errs[0] > errs[1] > errs[2]

    g = rng.randint(0, 256, (10, 13), np.uint8)
    meta, out = _decode_jpeg(make_jpeg(g, quality=95))
    assert (meta["width"], meta["height"]) == (13, 10)
    # grayscale replicates to 3 identical channels
    assert (out[:, :, 0] == out[:, :, 1]).all()
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).mean() < 4.0


def test_jpeg_restart_interval_roundtrip():
    """DRI + RSTn markers: encoder emits them every 3 MCUs, decoder
    resyncs and resets DC predictors — same tolerance as without."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (33, 47, 3), np.uint8)
    p = make_jpeg(img, quality=92, restart_interval=3)
    assert b"\xff\xdd" in p  # DRI present
    assert any(bytes([0xFF, 0xD0 + k]) in p for k in range(8))
    _, out = _decode_jpeg(p)
    _, base = _decode_jpeg(make_jpeg(img, quality=92))
    # restart markers change framing only, not reconstruction quality
    a = np.abs(out.astype(int) - img.astype(int)).mean()
    b = np.abs(base.astype(int) - img.astype(int)).mean()
    assert abs(a - b) < 1.0


def test_decode_jpeg_rejects_malformed():
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_jpeg,
        make_jpeg,
    )

    with pytest.raises(ValueError, match="SOI"):
        _decode_jpeg(b"not a jpeg")
    good = make_jpeg(np.full((8, 8, 3), 99, np.uint8))
    with pytest.raises(ValueError):
        _decode_jpeg(good[:40])  # truncated before SOS
    # flip SOF0 to SOF2 (progressive) — must be refused, not mis-decoded
    prog = bytearray(good)
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="sequential"):
        _decode_jpeg(bytes(prog))


def test_real_decode_sniffs_jpeg(spark):
    """FFD8 payloads route to the JPEG path inside the Spark plan, next
    to PNG/GIF/BMP rows in the same column."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        make_jpeg,
    )

    jpg = make_jpeg(np.full((6, 9, 3), 200, np.uint8), quant_tables=_ONES_QT)
    png = make_png(np.full((4, 5, 3), 10, np.uint8))
    rows = [(1, bytearray(jpg)), (2, bytearray(png))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: r
        for r in extract_media_features(
            df, "payload", media_type="image", decoder="real"
        ).collect()
    }
    assert (out[1].media_meta.width, out[1].media_meta.height) == (9, 6)
    assert (out[2].media_meta.width, out[2].media_meta.height) == (5, 4)
    # constant 200 -> one-hot histogram bin 7 of 8 (0-based 6): 200/255*8=6.27
    assert out[1].features[6] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Header-only probing (probe_media) — triage without decode
# ---------------------------------------------------------------------------

def test_probe_all_containers():
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _probe, make_gif, make_jpeg, make_mp3, make_mp4,
    )

    c, m = _probe(make_mp3(10, 128, 44100))
    assert c == "mp3" and m["media_type"] == "audio"
    assert m["n_frames"] == 10 and m["width"] == 2
    assert m["duration_ms"] == round(10 * 1152 * 1000 / 44100)

    c, m = _probe(make_mp3(5, 64, 32000, mono=True, id3_pad=17))
    assert (m["n_frames"], m["width"], m["duration_ms"]) == (5, 1, 180)

    c, m = _probe(make_mp4(640, 360, 2500))
    assert c == "mp4" and m["media_type"] == "video"
    assert (m["width"], m["height"], m["duration_ms"]) == (640, 360, 2500)
    assert m["n_frames"] is None  # sample tables are decode territory

    # GIF frame count + delays WITHOUT LZW decompression
    frames = [np.full((2, 4, 3), v, np.uint8) for v in (1, 2, 3)]
    c, m = _probe(make_gif(frames, delay_cs=7))
    assert c == "gif" and (m["n_frames"], m["duration_ms"]) == (3, 210)

    # progressive JPEG probes fine even though the decoder refuses it
    p = bytearray(make_jpeg(np.zeros((6, 9, 3), np.uint8)))
    p[p.find(b"\xff\xc0") + 1] = 0xC2
    c, m = _probe(bytes(p))
    assert c == "jpeg" and (m["width"], m["height"]) == (9, 6)


def test_probe_rejects_malformed():
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _probe, make_mp3,
    )

    with pytest.raises(ValueError, match="unrecognized"):
        _probe(b"garbage!")
    with pytest.raises(ValueError, match="no valid MPEG"):
        _probe(b"ID3\x04\x00\x00\x00\x00\x00\x00")  # tag, no frames
    # truncated final frame: complete frames still count
    good = make_mp3(4, 128, 44100)
    from quickstart_streaming_agents_spark.operators.multimodal import _probe as pr
    _, m = pr(good[:-10])
    assert m["n_frames"] == 3


def test_probe_media_spark_mixed_corpus(spark):
    from quickstart_streaming_agents_spark.operators.multimodal import (
        make_mp3, make_mp4, make_png, probe_media,
    )

    rows = [
        (1, bytearray(make_png(np.zeros((3, 5, 3), np.uint8)))),
        (2, bytearray(make_mp3(6, 192, 48000))),
        (3, bytearray(make_mp4(320, 180, 1500))),
        (4, bytearray(b"not media")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in probe_media(df, "payload").collect()}
    assert out[1].container == "png" and out[1].media_meta.width == 5
    assert out[2].container == "mp3" and out[2].media_meta.n_frames == 6
    assert out[3].container == "mp4" and out[3].media_meta.duration_ms == 1500
    assert out[4].container is None and out[4].media_meta is None


def test_jpeg_fill_bytes_before_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker code. Third-party baseline files use this; both the decoder
    and the header-only probe must skip the padding (ADVICE r7)."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_jpeg,
        _probe_jpeg,
        make_jpeg,
    )

    img = np.full((16, 24, 3), 37, np.uint8)
    clean = make_jpeg(img, quant_tables=_ONES_QT)
    # pad before SOF0 and before SOS (ones-QT bodies contain no 0xFF,
    # and entropy data byte-stuffs 0xFF, so these matches are markers)
    padded = clean.replace(b"\xff\xc0", b"\xff\xff\xff\xc0", 1)
    padded = padded.replace(b"\xff\xda", b"\xff\xff\xda", 1)
    assert len(padded) == len(clean) + 3
    meta, out = _decode_jpeg(padded)
    assert (meta["width"], meta["height"]) == (24, 16)
    assert (out == img).all()  # constant image + flat tables: bit-exact
    pm = _probe_jpeg(padded)
    assert (pm["width"], pm["height"]) == (24, 16)


def test_probe_gif_orphan_gce_duration_parity():
    """A trailing Graphic Control Extension with no following image
    frame contributes no duration: the probe must agree with the
    decoder, which only attaches a GCE delay to the next image
    descriptor (ADVICE r7: the probe summed every GCE)."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_gif,
        _probe,
        _probe_gif,
        make_gif,
    )

    frames = [np.full((2, 3, 3), v, np.uint8) for v in (10, 20)]
    p = make_gif(frames, delay_cs=5)
    assert p[-1] == 0x3B
    orphan_gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # delay 10cs, no frame
    dirty = p[:-1] + orphan_gce + b"\x3b"
    meta, _ = _decode_gif(dirty, media_type="video")
    pm = _probe_gif(dirty)
    assert meta["duration_ms"] == pm["duration_ms"] == 100  # 2 × 5cs only
    assert pm["n_frames"] == 2
    c, m2 = _probe(dirty)
    assert c == "gif" and m2 == pm


def test_mp4_sample_table_demux_roundtrip():
    """make_mp4's sample tables resolve back to the exact payload byte
    ranges: per-sample stsz, uniform stsz, one-chunk and two-chunk
    stsc/stco layouts, dts from the stts run."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _probe_mp4,
        make_mp4,
        mp4_sample_table,
    )

    samples = [b"alpha", b"bravo-longer", b"c", b"dddddddd", b"ee"]
    for two in (False, True):
        p = make_mp4(640, 360, 200, samples=samples, two_chunks=two)
        tab = mp4_sample_table(p)
        assert [r["sample_idx"] for r in tab] == list(range(5))
        assert [r["dts_ms"] for r in tab] == [0, 40, 80, 120, 160]
        for i, r in enumerate(tab):
            assert p[r["offset"]: r["offset"] + r["size"]] == samples[i]
        assert _probe_mp4(p)["n_frames"] == 5  # header-only stts count

    uni = make_mp4(16, 9, 120, samples=[b"xxxx"] * 3)
    tab = mp4_sample_table(uni)
    assert [r["size"] for r in tab] == [4, 4, 4]  # uniform stsz path

    skeleton = make_mp4(16, 9, 120)  # legacy skeleton: probe-only
    assert _probe_mp4(skeleton)["n_frames"] is None
    with pytest.raises(ValueError, match="mdia"):
        mp4_sample_table(skeleton)


def test_demux_mp4_samples_spark(spark):
    from quickstart_streaming_agents_spark.operators.multimodal import (
        demux_mp4_samples,
        make_mp4,
        mp4_sample_table,
    )
    from quickstart_streaming_agents_spark.session import ship_package

    ship_package(spark)
    three = make_mp4(16, 9, 120, samples=[b"aa", b"bbb", b"c"])
    rows = [
        (1, bytearray(three)),
        (2, bytearray(make_mp4(16, 9, 80, samples=[b"dd", b"e"],
                               two_chunks=True))),
        (3, b"not an mp4"),
        (4, bytearray(three[:-1])),  # last sample's range runs past EOF
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {(r.doc_id, r.sample_idx): (r.dts_ms, r.sample_size, r.sample_md5)
           for r in demux_mp4_samples(df).collect()}
    import hashlib
    want = {
        (1, 0): (0, 2, hashlib.md5(b"aa").hexdigest()),
        (1, 1): (40, 3, hashlib.md5(b"bbb").hexdigest()),
        (1, 2): (80, 1, hashlib.md5(b"c").hexdigest()),
        (2, 0): (0, 2, hashlib.md5(b"dd").hexdigest()),
        (2, 1): (40, 1, hashlib.md5(b"e").hexdigest()),
        (4, 0): (0, 2, hashlib.md5(b"aa").hexdigest()),
        (4, 1): (40, 3, hashlib.md5(b"bbb").hexdigest()),
    }
    # doc 3 demuxes to nothing (its walk raises); doc 4 loses only the
    # past-EOF sample
    assert got == want
    assert demux_mp4_samples(df, every_nth=2).count() == 4
    with pytest.raises(ValueError):
        mp4_sample_table(b"not an mp4")
    with pytest.raises(ValueError, match="every_nth"):
        demux_mp4_samples(df, every_nth=0)


def test_mp4_pcm_decode_roundtrip_and_rejections():
    """MP4 PCM audio decode (the stdlib-feasible slice of MP4 sample
    decode): sowt/twos byte orders, mono/stereo interleave, chunk-split
    layouts and short final packets all round-trip bit-exact through
    the real sample-table walk; WAV decode of the same samples agrees;
    video tracks, compressed-codec entries and torn payloads reject."""
    import numpy as np

    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_mp4_pcm,
        _decode_wav,
        make_mp4,
        make_mp4_pcm,
        make_wav,
        mp4_sample_table,
    )

    rng = np.random.default_rng(7)
    s = rng.integers(-16384, 16384, size=(2048, 2), dtype=np.int16)
    for fmt in ("sowt", "twos"):
        for two in (False, True):
            p = make_mp4_pcm(s, rate=8000, fmt=fmt, two_chunks=two)
            meta, arr = _decode_mp4_pcm(p)
            assert np.array_equal(arr, s), (fmt, two)
            assert meta["media_type"] == "audio" and meta["width"] == 2
            assert meta["n_frames"] == 2048 and meta["duration_ms"] == 256
    # WAV decode of the same samples produces the identical array
    assert np.array_equal(
        _decode_wav(make_wav(s, rate=8000))[1],
        _decode_mp4_pcm(make_mp4_pcm(s, rate=8000))[1],
    )
    # mono + a short final packet (1000 frames, 300/packet -> 4 samples)
    m = rng.integers(-100, 100, size=1000, dtype=np.int16)
    p = make_mp4_pcm(m, rate=44100, frames_per_sample=300)
    meta, arr = _decode_mp4_pcm(p)
    assert np.array_equal(arr[:, 0], m) and meta["width"] == 1
    tab = mp4_sample_table(p)
    assert len(tab) == 4 and tab[-1]["size"] == 100 * 2
    # per-packet stts deltas: dts of the last packet = 900 frames
    assert tab[-1]["dts_ms"] == 900 * 1000 // 44100

    with pytest.raises(ValueError, match="moov"):
        _decode_mp4_pcm(b"garbage")
    with pytest.raises(ValueError, match="soun"):
        _decode_mp4_pcm(make_mp4(64, 48, 1000, samples=[b"abc", b"de"]))
    with pytest.raises(ValueError, match="format"):
        make_mp4_pcm(m, fmt="alac")
    # torn mdat: sample table points past the payload
    p_torn = make_mp4_pcm(s, rate=8000)[:-64]
    with pytest.raises(Exception):
        _decode_mp4_pcm(p_torn)


def test_mp3_frame_table_walk():
    """Frame walk resolves byte ranges, header fields and 1152-sample
    timestamps; ID3v2 skip, truncated-final-frame drop, and a
    VBR-style concatenation (two streams back to back with different
    bitrates) all behave."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        make_mp3,
        mp3_frame_table,
    )

    p = make_mp3(4, bitrate_kbps=128, samplerate_hz=44100, id3_pad=13)
    tab = mp3_frame_table(p)
    flen = 144 * 128 * 1000 // 44100
    assert [r["frame_idx"] for r in tab] == [0, 1, 2, 3]
    assert [r["offset"] for r in tab] == [23 + k * flen for k in range(4)]
    assert all(r["size"] == flen and r["bitrate_kbps"] == 128
               and r["samplerate_hz"] == 44100 and r["channels"] == 2
               for r in tab)
    assert [r["dts_ms"] for r in tab] == [
        k * 1152 * 1000 // 44100 for k in range(4)
    ]
    assert len(mp3_frame_table(p[:-5])) == 3  # truncated final frame

    # per-frame header read: a bitrate change mid-stream is tracked
    vbr = make_mp3(2, bitrate_kbps=64, samplerate_hz=32000) + make_mp3(
        1, bitrate_kbps=192, samplerate_hz=32000, mono=True
    )
    tab = mp3_frame_table(vbr)
    assert [(r["bitrate_kbps"], r["channels"]) for r in tab] == [
        (64, 2), (64, 2), (192, 1)
    ]
    assert tab[2]["offset"] == 2 * (144 * 64 * 1000 // 32000)
    assert tab[2]["dts_ms"] == 2 * 1152 * 1000 // 32000

    with pytest.raises(ValueError, match="no valid"):
        mp3_frame_table(b"ID3\x04\x00\x00\x00\x00\x00\x00")


def test_mp3_trailing_junk_recall_is_consistent():
    """ADVICE r8: every trailing-junk shape after valid frames must get
    the SAME graceful end-of-stream treatment — a sync-like trailer
    with invalid bitrate/samplerate indices (0xFF 0xFB 0xFF…) used to
    raise and quarantine the whole payload, while a torn final frame or
    a non-sync trailer kept the demuxed frames. With NO valid leading
    frame, bad indices still reject the payload."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _probe_mp3,
        make_mp3,
        mp3_frame_table,
    )

    p = make_mp3(3, bitrate_kbps=128, samplerate_hz=44100)
    junk_shapes = {
        "non_sync": b"\x00garbage",
        # sync-like, bitrate index 0xF (invalid) — the r8 inconsistency
        "sync_bad_indices": b"\xff\xfb\xff\x00" + bytes(12),
        # sync-like, samplerate index 3 (reserved)
        "sync_bad_sr": b"\xff\xfb\x1e\x00" + bytes(12),
    }
    for shape, junk in junk_shapes.items():
        tab = mp3_frame_table(p + junk)
        assert len(tab) == 3, shape
        assert _probe_mp3(p + junk)["n_frames"] == 3, shape

    import pytest

    # payloads that START with bad-index sync bytes were never MP3
    with pytest.raises(ValueError, match="invalid MP3"):
        mp3_frame_table(junk_shapes["sync_bad_indices"] + p)
    with pytest.raises(ValueError, match="invalid MP3"):
        _probe_mp3(junk_shapes["sync_bad_indices"] + p)


def test_mp3_dts_survives_samplerate_change():
    """dts must accumulate per samplerate RUN: frames after a mid-stream
    rate switch keep the earlier frames' true elapsed time instead of
    retroactively rescaling it with the new rate."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        make_mp3,
        mp3_frame_table,
    )

    p = make_mp3(2, samplerate_hz=32000) + make_mp3(3, samplerate_hz=48000)
    tab = mp3_frame_table(p)
    assert [f["samplerate_hz"] for f in tab] == [32000] * 2 + [48000] * 3
    # 2 frames at 32 kHz elapse 2*1152/32000 s = 72 ms, NOT 48 ms
    assert tab[2]["dts_ms"] == 2 * 1152 * 1000 // 32000 == 72
    assert tab[3]["dts_ms"] == 72 + 1152 * 1000 // 48000
    # constant-rate prefix unchanged by the fix
    assert tab[1]["dts_ms"] == 1152 * 1000 // 32000


def test_webp_probe_kinds_and_truncation():
    """All three WebP chunk kinds probe header-only (lossy VP8 frame
    tag, VP8L packed 14-bit dims, VP8X canvas + ANMF animation walk);
    torn payloads reject with ValueError."""
    import pytest

    from quickstart_streaming_agents_spark.operators.multimodal import (
        _probe,
        make_webp,
    )

    for kind in ("vp8", "vp8l", "vp8x"):
        c, m = _probe(make_webp(33, 21, kind=kind))
        assert c == "webp"
        assert (m["width"], m["height"], m["n_frames"]) == (33, 21, 1)
        assert m["media_type"] == "image" and m["duration_ms"] == 0
    c, m = _probe(make_webp(64, 48, kind="vp8x", frames=3, frame_ms=50))
    assert (m["media_type"], m["n_frames"], m["duration_ms"]) == ("video", 3, 150)
    p = make_webp(64, 48, kind="vp8x", frames=3)
    with pytest.raises(ValueError):
        _probe(p[:30])  # torn mid-VP8X
    with pytest.raises(ValueError):
        _probe(p[:-4])  # torn mid-ANMF chain



def test_decompress_text_roundtrip_zlib_and_unicode(spark):
    """gzip members, raw zlib streams, UTF-8 multibyte text and torn
    payloads all follow the contract: real decompression with per-row
    quarantine and byte-accurate integrity metadata."""
    import hashlib
    import zlib

    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.compress import (
        _bounded_inflate,
        decompress_text,
        gzip_compress,
    )

    uni = "naive cafe \u00fcber 12\u20ac \u4e2d\u6587"
    rows = [
        Row(doc_id=1, payload=gzip_compress("hello world")),
        Row(doc_id=2, payload=zlib.compress("raw zlib stream".encode())),
        Row(doc_id=3, payload=gzip_compress(uni)),
        Row(doc_id=4, payload=b"not compressed at all"),
        Row(doc_id=5, payload=gzip_compress("torn")[:8]),
    ]
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in decompress_text(df).collect()}
    assert got[1].text == "hello world" and got[1].n_bytes == 11
    assert got[2].text == "raw zlib stream"
    assert got[3].text == uni
    assert got[3].n_bytes == len(uni.encode("utf-8"))  # BYTES, not chars
    assert got[3].digest == hashlib.md5(uni.encode("utf-8")).hexdigest()
    assert got[4].text is None and got[4].digest is None
    assert got[5].text is None
    # determinism of the synth side: pinned mtime -> identical bytes
    assert gzip_compress("x") == gzip_compress("x")
    with pytest.raises(Exception):  # torn member: the decode raises
        _bounded_inflate(gzip_compress("torn")[:8], 16 + zlib.MAX_WBITS,
                         1 << 20)


def test_decompress_text_bounds_decompression_bombs(spark):
    """ADVICE r8: the gzip tier fronts UNTRUSTED web payloads — a
    64 MB-of-zeros member (≈64 KB compressed) must quarantine its row
    at a bounded memory cost, never inflate fully.
    Multi-member concatenation draws on the same per-row budget."""
    import gzip as _gzip
    import zlib

    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.compress import (
        _bounded_inflate,
        decompress_text,
        gzip_compress,
    )

    bomb = _gzip.compress(b"\x00" * (64 << 20), mtime=0)
    assert len(bomb) < 100_000  # stays a cheap payload on the wire
    rows = [
        Row(doc_id=1, payload=gzip_compress("small ok")),
        Row(doc_id=2, payload=bomb),
        # two members whose TOTAL crosses the cap
        Row(doc_id=3, payload=gzip_compress("a" * 600) + gzip_compress("b" * 600)),
        Row(doc_id=4, payload=gzip_compress("x" * 1000)),  # exactly at cap
    ]
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in
           decompress_text(df, max_bytes=1000).collect()}
    assert got[1].text == "small ok"
    assert got[2].text is None and got[2].digest is None
    assert got[3].text is None
    assert got[4].text == "x" * 1000  # cap is inclusive

    import pytest

    with pytest.raises(ValueError, match="exceeds cap"):
        _bounded_inflate(bomb, 16 + zlib.MAX_WBITS, 1000)
    with pytest.raises(ValueError, match="max_bytes"):
        decompress_text(df, max_bytes=0)


def test_bounded_inflate_exact_cap_then_bomb_member_still_raises():
    """ADVICE r10 (high): when the first member inflates to EXACTLY the
    cap, the remaining budget is 0 — and zlib's max_length=0 means
    UNLIMITED, so before the guard a concatenated bomb member inflated
    fully (10 MB against cap=100). The exact-cap-boundary multi-member
    shape must raise, and a single exact-cap member must still pass."""
    import gzip as _gzip

    import pytest

    from quickstart_streaming_agents_spark.operators.compress import (
        _bounded_inflate,
        gzip_compress,
    )

    exact = gzip_compress("x" * 100)
    bomb = _gzip.compress(b"\x00" * 10_000_000, mtime=0)
    wbits = 16 + zlib_max_wbits()
    # single member at exactly the cap: fine (cap is inclusive)
    assert _bounded_inflate(exact, wbits, 100) == b"x" * 100
    # exact-cap member + bomb member: must raise, never inflate the bomb
    with pytest.raises(ValueError, match="exceeds cap"):
        _bounded_inflate(exact + bomb, wbits, 100)
    # even an over-cap-by-one second member raises
    with pytest.raises(ValueError, match="exceeds cap"):
        _bounded_inflate(exact + gzip_compress("y"), wbits, 100)


def zlib_max_wbits() -> int:
    import zlib

    return zlib.MAX_WBITS


def test_normalize_text_forms_nulls_and_idempotence(spark):
    """NFC composes planted decompositions, NFKC additionally folds
    compatibility forms, NULL text passes through as NULL, and already-
    clean text is a fixed point."""
    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.compress import (
        normalize_text,
    )

    rows = [
        Row(doc_id=1, text="café  x\ty "),   # decomposed + runs
        Row(doc_id=2, text=None),
        Row(doc_id=3, text="already clean"),
        Row(doc_id=4, text="ﬁne"),                  # U+FB01 ligature
        Row(doc_id=5, text="bel\x07l"),
    ]
    df = spark.createDataFrame(rows)
    nfc = {r.doc_id: (r.norm_text, r.changed)
           for r in normalize_text(df).collect()}
    assert nfc[1] == ("café x y", True)
    assert nfc[2] == (None, None)
    assert nfc[3] == ("already clean", False)
    assert nfc[4][0] == "ﬁne"  # NFC keeps the ligature
    assert nfc[5] == ("bell", True)
    nfkc = {r.doc_id: r.norm_text
            for r in normalize_text(df, form="NFKC").collect()}
    assert nfkc[4] == "fine"  # NFKC folds it
    import pytest

    with pytest.raises(ValueError):
        normalize_text(df, form="NFX")


def test_id3v2_roundtrip_and_wire_contracts():
    """Both real wire forms (v2.4 syncsafe+UTF-8, v2.3 uint32+Latin-1)
    roundtrip; UTF-16 frames decode; padding and torn frames end the
    walk; non-ID3 bytes are has-no-tag (None), not an error."""
    import struct

    import pytest

    from quickstart_streaming_agents_spark.operators.multimodal import (
        id3_tags,
        make_id3v2,
        make_mp3,
        mp3_frame_table,
    )

    for v in (3, 4):
        tag = make_id3v2(
            {"TIT2": "Song", "TPE1": "Artist", "TALB": "LP"}, version=v
        )
        m = id3_tags(tag + make_mp3(2))
        assert m["version"] == v
        assert m["frames"] == {"TIT2": "Song", "TPE1": "Artist",
                               "TALB": "LP"}
    # utf-8 survives in v2.4
    m = id3_tags(make_id3v2({"TIT2": "Zoé — 日本"}, version=4))
    assert m["frames"]["TIT2"] == "Zoé — 日本"
    # hand-built UTF-16 frame (encoding 1, BOM) decodes
    text = "wide χ".encode("utf-16")
    frame = b"TIT2" + bytes([0, 0, 0, len(text) + 1]) + b"\x00\x00" \
        + b"\x01" + text
    hdr = b"ID3\x04\x00\x00" + bytes([0, 0, 0, len(frame)])
    assert id3_tags(hdr + frame)["frames"]["TIT2"] == "wide χ"
    # the frame walk after the tag still demuxes MP3 frames
    tag = make_id3v2({"TIT2": "x"}, version=4)
    assert len(mp3_frame_table(tag + make_mp3(5))) == 5
    # padding stops the walk; earlier frames survive
    t = make_id3v2({"TIT2": "kept"}, version=4)
    padded = bytearray(t)
    body_len = len(t) - 10 + 8
    padded[6:10] = bytes([0, 0, body_len >> 7, body_len & 0x7F])
    padded += bytes(8)
    assert id3_tags(bytes(padded))["frames"] == {"TIT2": "kept"}
    # torn frame (size past the tag) keeps earlier frames
    two = make_id3v2({"TIT2": "first", "TPE1": "second"}, version=3)
    # truncate the tag mid-second-frame but keep the header size claim
    torn = two[: len(two) - 3]
    assert id3_tags(torn)["frames"] == {"TIT2": "first"}
    # transparency: non-ID3 bytes are None, torn ID3 header raises
    assert id3_tags(b"not an mp3 at all") is None
    assert id3_tags(make_mp3(1)) is None
    with pytest.raises(ValueError, match="truncated ID3"):
        id3_tags(b"ID3\x04bad")
    with pytest.raises(ValueError, match="syncsafe"):
        id3_tags(b"ID3\x04\x00\x00\xff\xff\xff\xff")
    with pytest.raises(ValueError, match="frame id"):
        make_id3v2({"TOOLONGID": "x"})


def test_id3_meta_spark_surface(spark):
    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.multimodal import (
        id3_meta,
        id3_tags,
        make_id3v2,
        make_mp3,
    )

    rows = [
        Row(doc_id=1, payload=make_id3v2({"TIT2": "T", "TPE1": "A"},
                                         version=4) + make_mp3(1)),
        Row(doc_id=2, payload=make_mp3(1)),      # tag-less
        Row(doc_id=3, payload=b"ID3\x04bad"),    # torn header: error row
    ]
    got = {r.doc_id: r for r in
           id3_meta(spark.createDataFrame(rows)).collect()}
    assert (got[1].title, got[1].artist, got[1].has_id3) == ("T", "A", True)
    assert got[1].id3_version == 4
    assert got[2].has_id3 is False and got[2].title is None
    assert got[3].has_id3 is None
    with pytest.raises(ValueError):
        id3_tags(b"ID3\x04bad")


def test_id3v2_extended_header_skipped():
    """The v2.4 extended-header flag (byte 5 bit 0x40) shifts the frame
    walk past the syncsafe-sized header; v2.3's size field excludes its
    own 4 bytes. Without the skip the walk hit non-alphanumeric header
    bytes and returned empty frames (ADVICE r10)."""
    import struct

    from quickstart_streaming_agents_spark.operators.multimodal import (
        id3_tags,
    )

    def syncsafe(n):
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])

    frame_payload = b"\x03hello"  # enc=utf-8
    # v2.4: ext size syncsafe, INCLUDES the whole 6-byte header
    body4 = syncsafe(6) + b"\x01\x00"
    body4 += b"TIT2" + syncsafe(len(frame_payload)) + b"\x00\x00"
    body4 += frame_payload
    tag4 = b"ID3" + bytes([4, 0, 0x40]) + syncsafe(len(body4)) + body4
    m = id3_tags(tag4)
    assert m["version"] == 4 and m["frames"] == {"TIT2": "hello"}

    # v2.3: ext size plain big-endian, EXCLUDES its own 4 size bytes
    body3 = struct.pack(">I", 6) + b"\x00\x00" + struct.pack(">I", 0)
    body3 += b"TIT2" + struct.pack(">I", len(frame_payload)) + b"\x00\x00"
    body3 += frame_payload
    tag3 = b"ID3" + bytes([3, 0, 0x40]) + syncsafe(len(body3)) + body3
    m = id3_tags(tag3)
    assert m["version"] == 3 and m["frames"] == {"TIT2": "hello"}

    # corrupt v2.4 ext size (non-syncsafe byte) is fatal, not silent
    bad = b"ID3" + bytes([4, 0, 0x40]) + syncsafe(12) + b"\x80\x00\x00\x06"
    bad += b"\x01\x00" + b"\x00\x00"
    with pytest.raises(ValueError, match="extended-header"):
        id3_tags(bad)


def test_sniff_decompress_text_all_codecs(spark):
    """Magic-byte sniff: gzip/bz2/xz/plain payloads each roundtrip
    through their stdlib codec; torn members and non-UTF-8 results
    quarantine with the sniffed codec preserved."""
    import bz2
    import hashlib
    import lzma

    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.compress import (
        _bounded_stdlib_inflate,
        gzip_compress,
        sniff_decompress_text,
    )

    t = "hello wörld £ → ok"
    raw = t.encode("utf-8")
    rows = [
        Row(doc_id=1, payload=gzip_compress(t)),
        Row(doc_id=2, payload=bz2.compress(raw, 9)),
        Row(doc_id=3, payload=lzma.compress(raw, format=lzma.FORMAT_XZ)),
        Row(doc_id=4, payload=raw),
        Row(doc_id=5, payload=b"BZh9torn-bzip-member"),
        Row(doc_id=6, payload=b"\xff\xfe invalid utf8 plain \x80"),
    ]
    got = {r.doc_id: r for r in
           sniff_decompress_text(spark.createDataFrame(rows)).collect()}
    md5 = hashlib.md5(raw).hexdigest()
    for i, codec in [(1, "gzip"), (2, "bz2"), (3, "xz")]:
        assert (got[i].codec, got[i].text, got[i].n_bytes, got[i].digest) \
            == (codec, t, len(raw), md5), i
    assert (got[4].codec, got[4].text) == ("plain", t)
    assert got[5].codec == "bz2" and got[5].text is None
    assert got[6].codec == "plain" and got[6].text is None
    with pytest.raises(OSError):  # the torn bzip2 member's decode
        _bounded_stdlib_inflate(bz2.BZ2Decompressor(),
                                b"BZh9torn-bzip-member", 1 << 20)


def test_sniff_decompress_bombs_bounded_every_codec(spark):
    """The bomb cap holds for bz2 and xz exactly as for gzip: a 1 MB
    expansion against a 1000-byte cap quarantines, never allocates."""
    import bz2
    import lzma

    from pyspark.sql import Row

    from quickstart_streaming_agents_spark.operators.compress import (
        gzip_compress,
        sniff_decompress_text,
    )

    bomb = b"x" * 1_000_000
    rows = [
        Row(doc_id=1, payload=gzip_compress(bomb.decode())),
        Row(doc_id=2, payload=bz2.compress(bomb, 9)),
        Row(doc_id=3, payload=lzma.compress(bomb, format=lzma.FORMAT_XZ)),
        Row(doc_id=4, payload=b"ok small plain"),
    ]
    got = {r.doc_id: r for r in
           sniff_decompress_text(
               spark.createDataFrame(rows), max_bytes=1000).collect()}
    assert got[1].text is None and got[2].text is None
    assert got[3].text is None
    assert got[4].text == "ok small plain"
    # plain payloads over the cap quarantine too (consistent budget)
    [r] = sniff_decompress_text(
        spark.createDataFrame([Row(doc_id=9, payload=b"y" * 2000)]),
        max_bytes=1000).collect()
    assert r.codec == "plain" and r.text is None
