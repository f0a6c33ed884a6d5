"""Audio energy-signature fingerprinting (operators/afp.py)."""

from __future__ import annotations

import numpy as np
import pytest

from quickstart_streaming_agents_spark.operators.afp import (
    audio_dedup,
    audio_energy_sig,
    audio_near_dup_pairs,
    energy_sig_rows,
    energy_signature_py,
)
from quickstart_streaming_agents_spark.operators.multimodal import make_wav
from quickstart_streaming_agents_spark.session import ship_package


def test_energy_signature_hand_computed():
    # window 4, 2 windows: [1,1,1,1] -> E=4 -> bit_length 3;
    # [0,0,0,0] -> E=0 -> 0 (silence convention)
    assert energy_signature_py([1, 1, 1, 1, 0, 0, 0, 0], 4, 2) == [3, 0]
    # short input zero-pads: one sample of 3 -> E=9 -> 4, rest silence
    assert energy_signature_py([3], 4, 2) == [4, 0]
    # int16 extremes stay exact BIGINTs: (-32768)^2 * 4 = 2^32
    assert energy_signature_py([-32768] * 4, 4, 1) == [33]


def test_audio_sig_spark_and_error_tolerance(spark):
    ship_package(spark)
    loud = np.full((2048, 1), 1000, np.int16)
    quiet = np.zeros((2048, 1), np.int16)
    rows = [
        (1, bytearray(make_wav(loud, rate=8000))),
        (2, bytearray(make_wav(quiet, rate=8000))),
        (3, b"not a wav"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.sig for r in audio_energy_sig(df).collect()}
    # 1000^2 * 256 = 256e6 -> bit_length 28
    assert got[1] == ":".join(["28"] * 8)
    assert got[2] == ":".join(["0"] * 8)
    assert got[3] is None
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        energy_sig_rows(b"not a wav")
    with pytest.raises(ValueError, match="n_windows"):
        audio_energy_sig(df, n_windows=6)


def test_audio_near_dup_pigeonhole_threshold(spark):
    """Clips differing in 1 window are dups at max_diff=1; in 2
    windows, not; channel 0 only is hashed (stereo right channel is
    ignored by design)."""
    ship_package(spark)
    base = np.repeat(np.int16([100, 200, 300, 400, 500, 600, 700, 800]),
                     256).reshape(-1, 1)
    one = base.copy(); one[:256] = 29000        # window 0 louder
    two = one.copy(); two[256:512] = 29000      # windows 0+1 differ
    stereo = np.hstack([base, np.full_like(base, 31000)])
    rows = [(10, bytearray(make_wav(base, rate=8000))),
            (20, bytearray(make_wav(one, rate=8000))),
            (30, bytearray(make_wav(two, rate=8000))),
            (40, bytearray(make_wav(stereo, rate=8000)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r.kept for r in audio_dedup(df).collect()}
    # 10≡40 exactly (channel 0 equal); 20 is 1 window off 10 -> dup;
    # 30 is 2 off 10 and 1 off 20 -> dup of 20
    assert out == {10: True, 20: False, 30: False, 40: False}

    sigs = audio_energy_sig(df)
    pairs = {(r.id_a, r.id_b): r.n_diff
             for r in audio_near_dup_pairs(sigs, max_diff=2).collect()}
    assert pairs[(10, 40)] == 0
    assert pairs[(10, 20)] == 1
    assert pairs[(20, 30)] == 1
    assert pairs[(10, 30)] == 2  # surfaced at max_diff=2
    with pytest.raises(ValueError, match="max_diff"):
        audio_near_dup_pairs(sigs, max_diff=4)
    # a bucket cap of 1 kills every candidate
    assert audio_near_dup_pairs(sigs, max_bucket=1).count() == 0


def _ima_decode_independent(payload: bytes):
    """Independent IMA ADPCM reference decoder (spec tables re-typed
    from the IMA 1992 document, structured differently from the
    operator: flat nibble iterator, no shared helpers)."""
    import struct

    steps = [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
             34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
             130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371,
             408, 449, 494, 544, 598, 658, 724, 796, 876, 963, 1060,
             1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749,
             3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132,
             7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
             18500, 20350, 22385, 24623, 27086, 29794, 32767]
    itab = [-1, -1, -1, -1, 2, 4, 6, 8]
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    pos, fmt, data, fact = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact":
            fact = body
        pos += 8 + size + (size & 1)
    tag, ch, rate, _, ba, bits = struct.unpack_from("<HHIIHH", fmt)
    assert tag == 0x11 and bits == 4
    chans = [[] for _ in range(ch)]
    for boff in range(0, len(data) - ba + 1, ba):
        blk = data[boff:boff + ba]
        st = []
        for c in range(ch):
            p, ix = struct.unpack_from("<hB", blk, 4 * c)[0], blk[4 * c + 2]
            st.append([p, ix])
            chans[c].append(p)
        body = blk[4 * ch:]
        for w in range(len(body) // 4):
            c = w % ch
            for byte in body[w * 4:w * 4 + 4]:
                for nib in (byte & 15, byte >> 4):
                    p, ix = st[c]
                    step = steps[ix]
                    d = step >> 3
                    if nib & 1:
                        d += step >> 2
                    if nib & 2:
                        d += step >> 1
                    if nib & 4:
                        d += step
                    p = p - d if nib & 8 else p + d
                    p = min(32767, max(-32768, p))
                    ix = min(88, max(0, ix + itab[nib & 7]))
                    st[c] = [p, ix]
                    chans[c].append(p)
    n = min(len(x) for x in chans)
    if fact:
        import struct as _s

        n = min(n, _s.unpack_from("<I", fact)[0])
    return [x[:n] for x in chans]


def test_ima_adpcm_decode_matches_independent_reference():
    """The operator's adaptive decode (nonzero nibbles, index walk,
    clamps) must agree sample-for-sample with an independently written
    reference decoder on rich signals — mono and stereo, multiple
    block sizes, padded final blocks."""
    import numpy as np

    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_wav,
        make_wav_ima_adpcm,
    )

    rng = np.random.default_rng(7)
    t = np.arange(3001)
    signals = [
        (10000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int16),
        rng.integers(-32768, 32768, size=2500).astype(np.int16),
        np.stack([
            (8000 * np.sin(2 * np.pi * 200 * t / 8000)).astype(np.int16),
            rng.integers(-32768, 32768, size=len(t)).astype(np.int16),
        ], axis=1),
    ]
    for sig in signals:
        for bs in (9, 257, 505):
            p = make_wav_ima_adpcm(sig, rate=8000, block_samples=bs)
            _, ours = _decode_wav(p)
            ref = _ima_decode_independent(p)
            want = np.stack(
                [np.asarray(c, dtype=np.int16) for c in ref], axis=1
            )
            assert ours.shape == want.shape
            assert (ours == want).all(), (sig.shape, bs)
            n = sig.shape[0]
            assert ours.shape[0] == n  # fact chunk trims block padding


def test_ima_adpcm_fault_contracts():
    import struct

    import numpy as np
    import pytest

    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_wav,
        make_wav_ima_adpcm,
    )

    sine = (5000 * np.sin(np.arange(2000) / 5)).astype(np.int16)
    p = make_wav_ima_adpcm(sine, block_samples=257)

    # torn final block: whole words decode, walk ends gracefully
    _, full = _decode_wav(p)
    torn = p[:-40]
    # fix the RIFF/data sizes so the chunk walk still finds the data
    torn = bytearray(torn)
    struct.pack_into("<I", torn, 4, len(torn) - 8)
    data_off = p.rindex(b"data")
    struct.pack_into("<I", torn, data_off + 4, len(torn) - data_off - 8)
    _, part = _decode_wav(bytes(torn))
    assert 0 < part.shape[0] < full.shape[0]
    assert (part[:, 0] == full[: part.shape[0], 0]).all()

    # corrupt step index (>88) raises
    bad = bytearray(p)
    bad[data_off + 8 + 2] = 99
    with pytest.raises(ValueError, match="step index"):
        _decode_wav(bytes(bad))

    # encoder rejects non-8k+1 block sizes
    with pytest.raises(ValueError, match="8k"):
        make_wav_ima_adpcm(sine, block_samples=100)


def test_g711_tables_match_cpython_audioop_reference():
    """Both 256-entry decode tables must equal CPython's audioop
    (the independent reference implementation of G.711); skipped only
    on runtimes where the deprecated module is gone (3.13+)."""
    import warnings

    import numpy as np
    import pytest

    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
    except ImportError:
        pytest.skip("audioop removed on this runtime")

    from quickstart_streaming_agents_spark.operators.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
    )

    raw = bytes(range(256))
    ref_u = np.frombuffer(audioop.ulaw2lin(raw, 2), dtype="<i2")
    ref_a = np.frombuffer(audioop.alaw2lin(raw, 2), dtype="<i2")
    assert (_ULAW_TABLE == ref_u).all()
    assert (_ALAW_TABLE == ref_a).all()


def test_g711_container_and_encode_roundtrip():
    import numpy as np
    import pytest

    from quickstart_streaming_agents_spark.operators.multimodal import (
        _ULAW_TABLE,
        _decode_wav,
        _linear_to_ulaw,
        make_wav_g711,
    )

    # every µ-law byte encodes back to itself from its decoded value,
    # except the two codes that both decode to 0 (the ±0 wobble)
    agree = sum(
        _linear_to_ulaw(int(_ULAW_TABLE[b])) == b for b in range(256)
    )
    assert agree >= 254

    p = make_wav_g711(bytes([0x00, 0xFF, 0x80]), law="ulaw")
    meta, s = _decode_wav(p)
    assert meta["n_frames"] == 3 and meta["width"] == 1
    assert s[:, 0].tolist() == [-32124, 0, 32124]

    pa = make_wav_g711(bytes([0x55, 0xD5]), law="alaw")
    _, sa = _decode_wav(pa)
    assert sa[:, 0].tolist() == [-8, 8]  # the A-law zero codes

    with pytest.raises(ValueError, match="law must be"):
        make_wav_g711(b"\x00", law="pcm")


def test_audio_near_dup_exchange_budget(spark):
    """The banded audio dedup keeps its plan budget, the same as the
    banded image dedup's: at most 4 keyed exchanges, so a corpus-sized
    reshuffle creeping into candidate generation fails here. The ids-only
    round-robin spread of the fixture scan shows once per consumer
    subtree in the initial plan."""
    from quickstart_streaming_agents_spark.plans import (
        count_keyed_exchanges,
        count_roundrobin_exchanges,
    )
    from quickstart_streaming_agents_spark.queries import QUERIES

    from .conftest import SF_DIR

    df = QUERIES["audio_near_dup"](spark, SF_DIR)
    assert count_keyed_exchanges(df) <= 4
    assert count_roundrobin_exchanges(df) <= 5
