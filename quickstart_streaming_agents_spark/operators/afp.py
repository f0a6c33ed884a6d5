"""Audio energy-signature fingerprinting and near-dup detection.

Beyond-reference surface (SURVEY §M8 multimodal curation): the audio
analog of the dHash image family (operators/phash.py) — re-encoded or
slightly-edited copies of the same recording land on nearby energy
signatures and are caught by banded LSH. All-integer arithmetic, so a
SQL oracle replays every step.

Recipe:

1. decode — the real RIFF/WAVE PCM-16 codec (operators/multimodal),
   channel 0 (no inter-channel averaging: keeps every op integer);
2. the first ``n_windows × window_samples`` samples (zero-padded —
   silence — when shorter) split into fixed windows; per-window ENERGY
   ``E_w = Σ s²`` is an exact BIGINT (int16² · window ≤ 2^39);
3. per-window log-energy bucket ``bit_length(E_w)`` (0 for silence) —
   the exact integer ``floor(log2)+1``, the same no-libm idiom as
   key_skew_histogram's ``length(bin(c))`` buckets;
4. the signature is the bucket sequence; its four QUARTERS are md5'd
   into band digests b0..b3 — the LSH buckets.

Near-dup: pigeonhole — two signatures differing in ≤ ``max_diff ≤ 3``
windows agree on ≥ 1 of the 4 quarter digests (one differing window
perturbs exactly one quarter), so candidates come from one equi-join
on (band index, digest), never all-pairs; the exact differing-window
count (a JVM zip_with fold over the bucket arrays) filters candidates.
100 TB shape: the band shuffle moves a digest + 8 small ints per row;
hot bands (silence-only clips all hashing alike) capped at
``max_bucket`` like the hot-shingle / phash-band caps.

Scale knob: bit_length buckets span only ~41
values, so a quarter digest over ``n_windows/4`` windows has
``~41^(n_windows/4)`` possible values. The fixture default
``n_windows=8`` (2 windows/quarter, ~1.7k combos) SATURATES the band
space past ~100k clips — every band goes hot and candidate generation
within buckets turns quadratic until ``max_bucket`` starts dropping
them (recall loss). At corpus scale raise ``n_windows`` (32 → 41^8
quarter combos keeps bands sparse at any size). The heavy tier
(tools/bench_heavy.py) times the ``audio_near_dup`` query at sf1.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .payload import map_payloads


def energy_signature_py(samples, window_samples: int, n_windows: int) -> list[int]:
    """Channel-0 int16 samples → per-window bit_length(Σ s²) buckets."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    need = window_samples * n_windows
    if len(s) < need:
        s = np.concatenate([s, np.zeros(need - len(s), dtype=np.int64)])
    s = s[:need].reshape(n_windows, window_samples)
    energies = (s * s).sum(axis=1)
    return [int(e).bit_length() for e in energies]


def _band_digests(sig: list[int]) -> list[str]:
    q = len(sig) // 4
    return [
        hashlib.md5(
            ":".join(str(b) for b in sig[j * q : (j + 1) * q]).encode()
        ).hexdigest()
        for j in range(4)
    ]


SIG_FIELDS = [("sig", "string"), ("b0", "string"), ("b1", "string"),
              ("b2", "string"), ("b3", "string")]


def energy_sig_rows(
    p: bytes, window_samples: int = 256, n_windows: int = 8
) -> list[list[str]]:
    """One clip's ``[[sig, b0, b1, b2, b3]]`` — the payload walk of
    ``audio_energy_sig``, which fused synth stages compose with
    ``payload.payload_rows`` so payload bytes never cross the JVM↔Python
    boundary (guide §4: two chained Arrow stages round-trip every clip
    through the JVM twice).

    Container dispatch on magic: RIFF/WAVE, or ISO BMFF whose first
    track is an uncompressed PCM-16 ``sowt``/``twos`` entry (r9: the MP4
    slice rides the same real sample-table walk) — so one fingerprint
    pass covers a mixed-container corpus."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _decode_mp4_pcm,
        _decode_wav,
    )

    if p[:4] == b"RIFF":
        _, arr = _decode_wav(p)
    elif len(p) >= 12 and p[4:8] == b"ftyp":
        _, arr = _decode_mp4_pcm(p)
    else:
        raise ValueError("not a RIFF/WAVE or ISO-BMFF payload")
    sig = energy_signature_py(arr[:, 0], window_samples, n_windows)
    return [[":".join(map(str, sig)), *_band_digests(sig)]]


def audio_energy_sig(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window_samples: int = 256,
    n_windows: int = 8,
) -> DataFrame:
    """Per-clip energy signature: ``(id_col, sig, b0..b3)`` where
    ``sig`` is the ':'-joined bucket sequence and b0..b3 the quarter
    digests. Undecodable payloads keep an all-NULL row (the
    payload-walker quarantine, operators/payload.py)."""
    if n_windows % 4:
        raise ValueError("n_windows must be divisible into 4 bands")
    return map_payloads(
        df, lambda p: energy_sig_rows(p, window_samples, n_windows),
        SIG_FIELDS, id_col, payload_col, fail_row=[None] * 5,
    )


def audio_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_diff: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b, n_diff)``, ``id_a < id_b``,
    from banded LSH over ``(id, sig, b0..b3)`` rows. Exact for
    ``max_diff ≤ 3`` (4-band pigeonhole) outside over-``max_bucket``
    bands, which are skipped (bounded fan-out)."""
    return _near_dup_matches(sigs, id_col, max_diff, max_bucket).distinct()


def _near_dup_matches(
    sigs: DataFrame, id_col: str, max_diff: int, max_bucket: int
) -> DataFrame:
    """Pre-distinct near-dup matches ``(id_a, id_b, n_diff)`` — one row
    per MATCHING band collision (a pair sharing k quarter digests
    appears up to k times).

    The ``n_diff`` filter (functionally determined by the pair) runs
    BEFORE any dedup, so downstream distincts shuffle only surviving
    pairs (three narrow columns) instead of every band-join candidate
    dragging both sig strings through an exchange. Callers pick their
    dedup grain: ``audio_near_dup_pairs`` distincts the pair rows,
    ``audio_dedup`` only ever needs distinct ``id_b`` keepers.

    The band self-join is the MEASURED shape: an A/B against the
    single-shuffle group-pair-emission alternative (collect_list per
    (i, v) bucket + nested-transform emission, the ngram_jaccard_pairs
    pattern) timed the grouped form consistently ~65% SLOWER here
    (warm min 4.94 s vs 2.96 s full-query at sf0.1) — the self-join's
    second side reuses the first side's exchange, while the grouped
    form trades that reused exchange for a non-codegen objectified
    collect_list + higher-order pair emission."""
    if not 0 <= max_diff <= 3:
        raise ValueError(
            f"max_diff must be in [0, 3] for 4-band pigeonhole "
            f"exactness, got {max_diff}"
        )
    from .dedup import cap_hot_buckets, explode_bands

    h = sigs.filter(F.col("sig").isNotNull()).select(
        F.col(id_col).alias("item_id"), "sig", "b0", "b1", "b2", "b3"
    )
    bands = cap_hot_buckets(
        explode_bands(h, "item_id", ["b0", "b1", "b2", "b3"],
                      keep_cols=["sig"]),
        max_bucket,
    )
    a = bands.select(
        F.col("item_id").alias("id_a"), "i", "v",
        F.col("sig").alias("sig_a"),
    )
    b = bands.select(
        F.col("item_id").alias("id_b"), "i", "v",
        F.col("sig").alias("sig_b"),
    )
    n_diff = F.aggregate(
        F.zip_with(
            F.split("sig_a", ":"), F.split("sig_b", ":"),
            lambda x, y: F.when(x == y, 0).otherwise(1),
        ),
        F.lit(0), lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["i", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", n_diff.cast("int").alias("n_diff"))
        .filter(F.col("n_diff") <= max_diff)
    )


def audio_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window_samples: int = 256,
    n_windows: int = 8,
    max_diff: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """Keep-one-per-near-dup-group over an audio payload column:
    ``(id_col, sig, kept)``; min-id keeper, undecodable clips keep a
    NULL signature and ``kept = true`` (same contract as phash_dedup).

    The signature frame is persisted — three plan branches consume it
    and recomputing re-runs the Python decode (same contract and
    release rule as phash_dedup)."""
    return audio_dedup_from_sigs(
        audio_energy_sig(df, id_col, payload_col, window_samples,
                         n_windows),
        id_col, max_diff, max_bucket,
    )


def audio_dedup_from_sigs(
    sigs_df: DataFrame,
    id_col: str = "doc_id",
    max_diff: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """``audio_dedup`` over an already-fingerprinted ``(id, sig,
    b0..b3)`` frame — the entry point for callers that fuse synthesis
    with fingerprinting in one Python stage. The keeper path dedups
    ``id_b`` directly from the pre-distinct matches: the pair-grain
    ``distinct()`` the pairs API performs would be a second, wider
    exchange feeding the same single-column dedup."""
    sigs = sigs_df.persist()
    dup = (
        _near_dup_matches(sigs, id_col, max_diff, max_bucket)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return sigs.join(dup, id_col, "left").select(
        id_col, "sig",
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )
