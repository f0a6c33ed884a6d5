"""dHash perceptual-hash image dedup (operators/phash.py).

Pins the integer recipe against hand-computed values, the area-average
resize against an independent numpy computation, cross-container
invariance (the same pixels through BMP, PNG and GIF encoders hash
identically — the re-encoded-copy detection story), and the banded
Hamming LSH guarantees (pigeonhole exactness, bucket cap, min-id
keeper)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickstart_streaming_agents_spark.operators.multimodal import (
    make_bmp,
    make_gif,
    make_png,
)
from quickstart_streaming_agents_spark.operators.phash import (
    dhash_bands_py,
    dhash_grid,
    dhash_images,
    dhash_rows,
    phash_dedup,
    phash_near_dup_pairs,
)
from quickstart_streaming_agents_spark.session import ship_package


def test_dhash_bands_hand_computed():
    # gradient grid: every right neighbor is larger -> all 64 bits set
    g = np.arange(72).reshape(8, 9)
    assert dhash_bands_py(g) == [65535, 65535, 65535, 65535]
    # reversed gradient -> no bits
    assert dhash_bands_py(g[:, ::-1]) == [0, 0, 0, 0]
    # exactly one bit: rows 0..7 map to bands r//2, position (r%2)*8+c
    g = np.zeros((8, 9), dtype=np.int64)
    g[3, 5] = 1  # bit at r=3, c=4 (g[3,4] < g[3,5]): band 1, pos 8+4
    assert dhash_bands_py(g) == [0, 1 << 12, 0, 0]


def test_dhash_grid_luma_and_resize():
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (16, 18, 3)).astype(np.uint8)
    g = dhash_grid(rgb)  # 16x18 -> 8x9: 2x2 blocks
    a = rgb.astype(np.int64)
    luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    want = np.array([
        [int(luma[2 * i: 2 * i + 2, 2 * j: 2 * j + 2].sum()) // 4
         for j in range(9)] for i in range(8)
    ])
    assert (g == want).all()
    # gray input: luma(v,v,v) == v exactly, identity at 8x9
    gray = rng.randint(0, 256, (8, 9)).astype(np.uint8)
    assert (dhash_grid(np.stack([gray] * 3, axis=2)) == gray).all()


def test_dhash_block_upscale_invariant():
    """A block-aligned nearest-neighbor upscale has the same area
    averages, so the dHash is identical — the resize-robustness dHash
    exists for."""
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (8, 9, 3)).astype(np.uint8)
    up = np.repeat(np.repeat(img, 3, axis=0), 3, axis=1)  # 24x27
    assert dhash_bands_py(dhash_grid(img)) == dhash_bands_py(dhash_grid(up))


def test_dhash_cross_container_invariant(spark):
    """Identical pixels through BMP, PNG and GIF (all lossless here)
    must hash identically — a re-encoded copy is hamming-0."""
    ship_package(spark)
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (8, 9, 3)).astype(np.uint8)
    # GIF palettes are per-image color tables; keep <=256 distinct
    # colors by using a gray image (r=g=b)
    gray = np.stack([img[:, :, 0]] * 3, axis=2)
    rows = [
        (0, bytearray(make_bmp(gray))),
        (1, bytearray(make_png(gray))),
        (2, bytearray(make_gif([gray]))),
        (3, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
           for r in dhash_images(df).collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == (None, None, None, None)  # quarantine row
    with pytest.raises(ValueError):
        dhash_rows(b"not an image")


def _hash_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )


def test_phash_pairs_pigeonhole_and_cap(spark):
    ship_package(spark)
    base = (100, 200, 300, 400)
    flip2 = (100 ^ 0b11, 200, 300, 400)          # hamming 2
    flip4 = (100 ^ 0b1, 200 ^ 0b1, 300 ^ 0b1, 400 ^ 0b1)  # hamming 4
    rows = [(1, *base), (2, *flip2), (3, *flip4), (4, None, None, None, None)]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(_hash_df(spark, rows)).collect()
    }
    # hamming 4 exceeds threshold; NULL rows never pair
    assert pairs == {(1, 2): 2}
    with pytest.raises(ValueError, match="max_hamming"):
        phash_near_dup_pairs(_hash_df(spark, rows), max_hamming=7)
    # a bucket cap of 1 drops every bucket shared by the pair
    assert phash_near_dup_pairs(
        _hash_df(spark, rows), max_bucket=1
    ).count() == 0


def test_phash_dedup_min_id_keeper(spark):
    ship_package(spark)
    img = np.stack([np.arange(72).reshape(8, 9).astype(np.uint8) * 3] * 3,
                   axis=2)
    near = img.copy()
    near[0, 0] = 255  # flips <= 2 bits
    rows = [(10, bytearray(make_bmp(img))),
            (20, bytearray(make_bmp(img))),      # exact dup of 10
            (30, bytearray(make_bmp(near))),     # near dup
            (40, b"garbage")]
    out = {r["doc_id"]: r["kept"]
           for r in phash_dedup(
               spark.createDataFrame(rows, "doc_id long, payload binary")
           ).collect()}
    assert out == {10: True, 20: False, 30: False, 40: True}


def test_dhash_handles_images_smaller_than_grid(spark):
    """Valid images below the 8x9 grid (thumbnails, icons) must hash,
    not crash or be misclassified as undecodable — nearest-neighbor
    upscale feeds the same area-average path."""
    import numpy as np

    from quickstart_streaming_agents_spark.operators.multimodal import make_bmp
    from quickstart_streaming_agents_spark.operators.phash import dhash_images

    tiny = np.zeros((4, 4, 3), dtype=np.uint8)
    tiny[2:, :, :] = 200  # top-dark / bottom-bright 4x4
    rows = [(1, make_bmp(tiny)), (2, make_bmp(np.full((2, 3, 3), 9, np.uint8)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.b0, r.b1, r.b2, r.b3)
           for r in dhash_images(df).collect()}
    assert None not in got[1] and None not in got[2]
    assert got[2] == (0, 0, 0, 0)  # constant image -> no gradients
