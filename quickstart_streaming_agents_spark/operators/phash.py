"""Perceptual-hash (dHash) image dedup over binary payload columns.

Beyond-reference surface (SURVEY §M8 multimodal curation): near-duplicate
IMAGE detection for training-data pipelines — re-encoded, re-saved or
slightly-retouched copies of the same picture land on nearby 64-bit
dHashes and are caught by banded Hamming LSH, the image analog of the
text MinHash-LSH family (operators/dedup.py). The reference's closest
construct is embedding-based vector search (lab 2); the hash recipe
itself is the public dHash (Krawetz 2013, "Kind of Like That").

Recipe, all integer arithmetic (bit-replayable by a SQL oracle):

1. decode — the real JPEG/PNG/GIF/BMP codecs (operators/multimodal);
2. integer luma ``(299·r + 587·g + 114·b) // 1000`` (exact for gray
   inputs: luma(v,v,v) == v);
3. area-average resize to ``h × (w+1)`` (8×9 default): rows/cols split
   into near-equal blocks (numpy array_split convention: the first
   ``size % n`` blocks get the extra element), block mean by floor
   division — identity when the input is already 8×9;
4. ``bit(r,c) = gray[r][c] < gray[r][c+1]`` → 64 bits emitted as FOUR
   16-bit band values b0..b3 (band j = rows 2j, 2j+1; bit position
   ``(r−2j)·8 + c``). Bands keep every value in [0, 65535] — no signed
   64-bit overflow anywhere — and double as the LSH buckets.

Near-dup: pigeonhole — hamming(a,b) ≤ 3 over 64 bits forces at least
one of the 4 bands equal, so candidates come from one equi-join on
(band index, band value), never all-pairs; the exact Hamming distance
(Σ bit_count(xor(band_i))) filters candidates. 100 TB shape: the band
shuffle moves 5 small ints per row; degenerate buckets (flat-color
images all hashing to 0) are capped at ``max_bucket`` members and
skipped — same hot-key policy as the hot-shingle cap in the text dedup
family, a documented recall trade for bounded join fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .payload import map_payloads


def dhash_grid(arr, h: int = 8, w: int = 9):
    """(H, W, 3) uint8 RGB (or (H, W) gray) → ``h × w`` integer luma
    grid: integer luma then area-average with floor division. Pure
    numpy, importable driver- or executor-side."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 3:
        a = a.astype(np.int64)
        luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    else:
        luma = a.astype(np.int64)
    if luma.shape == (h, w):
        return luma
    # images smaller than the grid are VALID (thumbnails, icons):
    # nearest-neighbor upscale to at least (h, w) first — array_split
    # would otherwise produce empty blocks and crash on rs[0]. Repeating
    # pixels leaves >=grid-size images' hashes untouched (this branch
    # only fires when a dimension is under the grid).
    if luma.shape[0] < h:
        luma = np.repeat(luma, -(-h // luma.shape[0]), axis=0)
    if luma.shape[1] < w:
        luma = np.repeat(luma, -(-w // luma.shape[1]), axis=1)
    out = np.empty((h, w), dtype=np.int64)
    rows = np.array_split(np.arange(luma.shape[0]), h)
    cols = np.array_split(np.arange(luma.shape[1]), w)
    for i, rs in enumerate(rows):
        for j, cs in enumerate(cols):
            blk = luma[rs[0] : rs[-1] + 1, cs[0] : cs[-1] + 1]
            out[i, j] = int(blk.sum()) // blk.size
    return out


def dhash_bands_py(grid) -> list[int]:
    """8×9 luma grid → [b0..b3] 16-bit dHash band values."""
    import numpy as np

    g = np.asarray(grid, dtype=np.int64)
    if g.shape != (8, 9):
        raise ValueError(f"dhash grid must be 8x9, got {g.shape}")
    bits = (g[:, :8] < g[:, 1:]).astype(np.int64)  # (8, 8)
    pos = (np.arange(8)[:, None] % 2) * 8 + np.arange(8)[None, :]
    vals = bits << pos
    return [int(vals[2 * j : 2 * j + 2].sum()) for j in range(4)]


DHASH_FIELDS = [("b0", "long"), ("b1", "long"), ("b2", "long"),
                ("b3", "long")]


def dhash_rows(p: bytes) -> list[list[int]]:
    """One image's ``[[b0, b1, b2, b3]]`` — the payload walk of
    ``dhash_images``, which fused synth stages compose with
    ``payload.payload_rows`` (the afp.energy_sig_rows pattern)."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        _real_decode,
    )

    _, arr = _real_decode(p, "image")
    return [dhash_bands_py(dhash_grid(arr))]


def dhash_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-image dHash: ``(id_col, b0, b1, b2, b3)``. Undecodable
    payloads keep NULL bands (the payload-walker quarantine,
    operators/payload.py)."""
    return map_payloads(df, dhash_rows, DHASH_FIELDS, id_col, payload_col,
                        fail_row=[None] * 4)


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b, hamming)``, ``id_a < id_b``,
    from banded Hamming LSH over ``(id, b0..b3)`` rows (NULL-band rows
    are skipped — undecodable images cannot be proven duplicates).

    Exact for ``max_hamming ≤ 3`` (pigeonhole over 4 bands) except
    inside over-``max_bucket`` band buckets, which are dropped from
    candidate generation (bounded fan-out; documented recall trade).
    """
    return _near_dup_matches(hashes, id_col, max_hamming,
                             max_bucket).distinct()


def _near_dup_matches(
    hashes: DataFrame, id_col: str, max_hamming: int, max_bucket: int
) -> DataFrame:
    """Pre-distinct near-dup matches ``(id_a, id_b, hamming)`` — one
    row per MATCHING band collision (a pair sharing k bands appears up
    to k times). The ``hamming`` filter (functionally determined by
    the pair) runs BEFORE any dedup, so downstream distincts shuffle
    only surviving pairs (three narrow columns) instead of every
    band-join candidate dragging all eight band values through an
    exchange; callers pick their dedup grain — ``phash_near_dup_pairs``
    distincts the pair rows, ``phash_dedup`` only ever needs distinct
    ``id_b`` keepers (the afp._near_dup_matches pattern)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3] for 4-band pigeonhole "
            f"exactness, got {max_hamming}"
        )
    from .dedup import cap_hot_buckets, explode_bands

    h = hashes.select(F.col(id_col).alias("item_id"), "b0", "b1", "b2", "b3")
    bands = cap_hot_buckets(
        explode_bands(h, "item_id", ["b0", "b1", "b2", "b3"],
                      keep_cols=["b0", "b1", "b2", "b3"]),
        max_bucket,
    )
    a = bands.select(
        F.col("item_id").alias("id_a"), "i", "v",
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
    )
    b = bands.select(
        F.col("item_id").alias("id_b"), "i", "v",
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"c{j}")))
        for j in range(4)
    )
    return (
        a.join(b, ["i", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Keep-one-per-near-dup-group over an image payload column:
    ``(id_col, b0..b3, kept)`` for every input row. ``kept`` is False
    iff some SMALLER-id image is within ``max_hamming`` (min-id is the
    deterministic keeper — the SemDeDup/embedding_near_dup rule).
    Undecodable payloads keep NULL bands and ``kept = true`` (a dup
    cannot be proven).

    The hash frame is persisted: it feeds three plan branches (hot-list
    agg, candidate join, keeper join) and recomputing it re-runs the
    Python decode per branch. It is tiny (5 ints/row) next to the
    payloads; callers running many pipelines release it with
    ``spark.catalog.clearCache()`` (bench.py does)."""
    return phash_dedup_from_hashes(
        dhash_images(df, id_col, payload_col),
        id_col, max_hamming, max_bucket,
    )


def phash_dedup_from_hashes(
    hashes_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """``phash_dedup`` over an already-hashed ``(id, b0..b3)`` frame —
    the entry point for callers that fuse synthesis with hashing in one
    Python stage. The keeper path dedups ``id_b`` directly from the
    pre-distinct matches: the pair-grain ``distinct()`` the pairs API
    performs would be a second, wider exchange feeding the same
    single-column dedup."""
    hashes = hashes_df.persist()
    dup = (
        _near_dup_matches(hashes, id_col, max_hamming, max_bucket)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return hashes.join(dup, id_col, "left").select(
        id_col, "b0", "b1", "b2", "b3",
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )
