"""Perceptual image hashing (operators/image_hash.py): planted-duplicate
invariances (VERDICT r13 #1 done-criterion), exact SQL parity of the
dhash bit arithmetic, and the banded pair pipeline end-to-end."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pincspark.operators.image_hash import (
    GRID_H,
    GRID_W,
    _pack_bits,
    decode_image_hashes,
    dhash_sql,
    image_dhash,
    image_neardup_pairs,
    image_phash,
)
from pincspark.operators.multimodal import bmp_encode, png_encode
from pincspark.operators.tiff import tiff_encode


def _raster(seed: int, h: int = 8, w: int = 18) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3)).astype(np.int64)


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_pack_bits_bit63_twos_complement():
    assert _pack_bits([1] + [0] * 63) == 1
    assert _pack_bits([0] * 63 + [1]) == -(1 << 63)
    assert _pack_bits([1] * 64) == -1  # all-ones int64


def test_dhash_invariant_under_reencode_and_rescale():
    """The VERDICT planted-duplicate contract at the hash level: the same
    pixels through different containers and exact k-times replication
    land on the SAME 64 bits; a different image does not."""
    base = _raster(7)
    h0 = image_dhash(base)
    for k in (2, 3, 5):
        rep = base.repeat(k, axis=0).repeat(k, axis=1)
        assert image_dhash(rep) == h0, k
    # anisotropic replication also cancels (cells scale uniformly per axis)
    assert image_dhash(base.repeat(2, axis=0).repeat(3, axis=1)) == h0
    other = _raster(8)
    assert _hamming(image_dhash(other), h0) > 10


def test_phash_reencode_identical_rescale_close_distinct_far():
    # 32-divisible dims: the 32x32 pre-DCT grid bins align exactly with
    # integer replication, so phash is EXACTLY rescale-invariant there
    big = _raster(21, h=64, w=96)
    p0 = image_phash(big)
    assert image_phash(big.copy()) == p0  # re-encode twin: same pixels
    for k in (2, 3):
        assert image_phash(big.repeat(k, axis=0).repeat(k, axis=1)) == p0, k
    # tiny images (below the 32x32 grid) upsample with shifted bins:
    # near, not exact — the low-frequency structure is what phash keeps
    small = _raster(21)
    assert _hamming(image_phash(small.repeat(4, axis=0).repeat(4, axis=1)),
                    image_phash(small)) <= 10
    assert _hamming(image_phash(_raster(22, h=64, w=96)), p0) > 12


def test_decode_image_hashes_containers_agree(spark):
    """One image, three containers (PNG / BMP / TIFF): the decoded-pixel
    hashes are identical; a distinct image's are not. This is the
    re-encoded-twin plant, driven through the REAL mapInPandas kernel."""
    base = _raster(5)
    twin2x = base.repeat(2, axis=0).repeat(2, axis=1)
    other = _raster(6)
    rows = [
        (1, bytearray(png_encode(base.astype(np.uint8), 2))),
        (2, bytearray(bmp_encode(base.astype(np.uint8)))),
        (3, bytearray(tiff_encode(base.astype(np.uint8)))),
        (4, bytearray(bmp_encode(twin2x.astype(np.uint8)))),  # rescaled
        (5, bytearray(png_encode(other.astype(np.uint8), 0))),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY").withColumn(
        "kind", F.lit("image")
    )
    got = {r["media_id"]: (r["dhash"], r["phash"])
           for r in decode_image_hashes(df, strict=True).collect()}
    assert got[1] == got[2] == got[3]  # re-encode: both hashes identical
    assert got[4][0] == got[1][0]  # 2x rescale: dhash exactly invariant
    assert _hamming(got[4][1], got[1][1]) <= 6  # phash close
    assert _hamming(got[5][0], got[1][0]) > 10
    assert _hamming(got[5][1], got[1][1]) > 10
    # and the expected hash is the pure-python one from the raw raster
    assert got[1][0] == image_dhash(base)
    assert got[1][1] == image_phash(base)


def test_image_neardup_pairs_finds_twin_not_distinct(spark):
    """Pair-level plant: the re-encoded+rescaled twin surfaces at
    hamming 0; unrelated images do not pair."""
    imgs = {i: _raster(100 + i) for i in range(6)}
    rows = [(i, bytearray(png_encode(r.astype(np.uint8), i % 5)))
            for i, r in imgs.items()]
    twin = imgs[3].repeat(2, axis=0).repeat(2, axis=1)
    rows.append((1003, bytearray(bmp_encode(twin.astype(np.uint8)))))
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY").withColumn(
        "kind", F.lit("image")
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(df, strict=True).collect()}
    assert pairs == {(3, 1003): 0}


def test_dhash_sql_matches_python_on_random_hex(spark):
    """The oracle expression builder and the kernel agree bit-for-bit on
    the q111 raster shape, including the signed bit-63 packing, for
    every document at sf0.001 — checked via DuckDB so the parity is
    cross-engine, not Spark-vs-Spark."""
    import hashlib

    import duckdb

    texts = [f"doc {i} payload" for i in range(64)]
    py = {}
    for i, t in enumerate(texts):
        hexd = hashlib.md5(t.encode()).hexdigest()
        ras = np.frombuffer((hexd * 14)[:432].encode(), dtype=np.uint8).reshape(
            8, 18, 3
        ).astype(np.int64)
        py[i] = image_dhash(ras)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(range(64)) AS media_id"
    )
    sql = dhash_sql("ras", 18, 8).replace(
        "__ras__",
        "(SELECT media_id, substring(repeat(md5('doc ' || media_id "
        "|| ' payload'), 14), 1, 432) AS ras FROM t)",
    )
    got = dict(con.execute(sql).fetchall())
    assert got == py


def test_dhash_band_buckets_far_under_cap(spark):
    """Cap canary for q111's brute-force oracle: the engine path skips
    (band, slice) buckets above max_bucket_size=1000; the oracle has no
    cap, so parity REQUIRES every bucket to sit under it. md5-derived
    rasters give near-uniform 16-bit slices — pin the margin. (The
    parity gate itself would also catch a violation; this test names the
    assumption.)"""
    import hashlib

    from tests.conftest import SF_DIR_T2

    docs = spark.read.parquet(f"{SF_DIR_T2}/documents.parquet").select("text").collect()
    from collections import Counter

    counts: Counter = Counter()
    for row in docs:
        hexd = hashlib.md5(row["text"].encode()).hexdigest()
        ras = np.frombuffer((hexd * 14)[:432].encode(), dtype=np.uint8).reshape(
            8, 18, 3
        ).astype(np.int64)
        h = image_dhash(ras) & ((1 << 64) - 1)
        for b in range(4):
            counts[(b, (h >> (16 * b)) & 0xFFFF)] += 1
    worst = max(counts.values())
    # duplicate texts share a raster, so the floor is the biggest
    # exact-dup cluster; 1000 would need a thousand-way collision
    assert worst < 500, worst


def test_dhash_sql_rejects_nondivisible_grid():
    with pytest.raises(ValueError):
        dhash_sql("ras", width=17, height=8)


def test_banded_hamming_pairs_exact_vs_brute_force_random(spark):
    """Direct property gate on the machinery all three modality tiers
    share (q43 text / q111 image / q113 audio): for random signed 64-bit
    fingerprints with planted near-misses, the banded join returns
    EXACTLY the brute-force hamming <= 3 answer (pigeonhole exactness
    for max_hamming <= bands-1, including negative hashes where the
    arithmetic shift + mask banding must still slice correctly)."""
    import random

    from pincspark.operators.dedup import banded_hamming_pairs

    rng = random.Random(4242)
    hashes = {}
    for i in range(120):
        hashes[i] = rng.getrandbits(64) - (1 << 63)  # signed, sign bit common
    # plant near-misses at hamming 1-4 off existing entries (4 must NOT pair)
    for j, d in enumerate((1, 2, 3, 4, 3, 1)):
        base = hashes[j]
        flipped = base
        for b in rng.sample(range(64), d):
            flipped ^= (1 << b) if b < 63 else -(1 << 63)
        # ^= with the sign-bit value keeps the int in signed-64 range
        flipped = (flipped + (1 << 63)) % (1 << 64) - (1 << 63)
        hashes[1000 + j] = flipped
    df = spark.createDataFrame(list(hashes.items()), "media_id LONG, h LONG")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(df, "media_id", "h").collect()
    }
    want = {}
    ids = sorted(hashes)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            hm = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if hm <= 3:
                want[(a, b)] = hm
    assert got == want
    assert want  # the plants actually produced pairs


def test_banded_hamming_pairs_hash_col_with_a_backtick(spark):
    """The band slices reference ``hash_col`` as one quoted identifier, so
    a fingerprint column whose name holds a backtick pairs exactly like a
    plain name."""
    from pincspark.operators.dedup import banded_hamming_pairs

    df = spark.createDataFrame(
        [(1, 0b1011), (2, 0b1010), (3, -1)], "media_id LONG, h LONG"
    )
    want = {tuple(r) for r in banded_hamming_pairs(df, "media_id", "h").collect()}
    odd = df.withColumnRenamed("h", "h`x")
    got = {tuple(r) for r in banded_hamming_pairs(odd, "media_id", "h`x").collect()}
    assert got == want == {(1, 2, 1)}


def test_decode_image_hashes_nonstrict_fallback_pairs_identical_blobs(spark):
    """Undecodable blobs in non-strict mode get deterministic byte-digest
    hashes: byte-identical blobs still near-dup at hamming 0, distinct
    blobs do not — the pipeline shape survives a format the sandbox
    cannot decode."""
    blob = bytes(range(64)) * 4  # no known magic
    rows = [(1, bytearray(blob)), (2, bytearray(blob)), (3, bytearray(blob[::-1]))]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY").withColumn(
        "kind", F.lit("image")
    )
    got = {r["media_id"]: (r["dhash"], r["phash"])
           for r in decode_image_hashes(df, strict=False).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    import pytest

    with pytest.raises(Exception, match="no codec"):
        decode_image_hashes(df, strict=True).collect()


def test_dhash_cross_multiplication_equals_exact_rational_means():
    """The no-division claim, pinned against exact arithmetic: for random
    raster sizes that do NOT divide the (8, 9) grid (unequal cell pixel
    counts — where a float mean would be the tempting-but-lossy form),
    every dhash bit equals the Fraction-exact mean comparison."""
    import random
    from fractions import Fraction

    import numpy as np

    rng = random.Random(777)
    for trial in range(12):
        # h >= GRID_H, w >= GRID_W+1: below the grid, _grid_sums inherits
        # np.add.reduceat's empty-bin behavior (the boundary row/col
        # repeats — a deterministic nearest-neighbor upsample, documented
        # since q56), which a zero-for-empty rational reference would
        # mismodel; the exactness claim is about UNEQUAL non-empty cells
        h = rng.randrange(8, 40)
        w = rng.randrange(9, 50)
        r = np.random.RandomState(trial).randint(0, 256, size=(h, w, 3)).astype(
            np.int64
        )
        got = image_dhash(r) & ((1 << 64) - 1)
        plane = r.sum(axis=2)
        re = np.linspace(0, h, GRID_H + 1).astype(int)
        ce = np.linspace(0, w, GRID_W + 2).astype(int)

        def cell_mean(y, x):
            block = plane[re[y]:re[y + 1], ce[x]:ce[x + 1]]
            if block.size == 0:
                return Fraction(0)
            return Fraction(int(block.sum()), block.size)

        for y in range(GRID_H):
            for x in range(GRID_W):
                k = y * GRID_W + x
                want_bit = int(cell_mean(y, x) < cell_mean(y, x + 1))
                assert (got >> k) & 1 == want_bit, (trial, h, w, y, x)


def test_degenerate_corpus_cap_bounds_pair_stage(spark):
    """VERDICT r14 #5 (adversarial banding probe): a LOW-ENTROPY corpus —
    many near-identical images, e.g. near-black thumbnails — concentrates
    one (band, slice) bucket. The max_bucket_size cap must keep the pair
    stage bounded: oversized buckets are SKIPPED (documented semantics,
    bounded work over pathological exactness), and pairs reappear when
    the cap admits the bucket. The r15 measurement that motivated this:
    the r14 periodic md5 mint collapsed 324k dhashes onto ~9.6k patterns
    (top cluster 47) and made q114's pair tier quadratic — the cap is the
    operator-level line of defense when a real corpus does that."""
    black = np.zeros((8, 18, 3), dtype=np.int64)
    rows = [(i, bytearray(bmp_encode(black))) for i in range(1, 31)]
    # two genuinely distinct images so the frame isn't all-degenerate
    rows += [(101, bytearray(bmp_encode(_raster(7)))),
             (102, bytearray(bmp_encode(_raster(7))))]
    df = spark.createDataFrame(
        rows, "media_id LONG, content BINARY"
    ).withColumn("kind", F.lit("image"))

    capped = image_neardup_pairs(df, strict=True, max_bucket_size=10)
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 30-member degenerate bucket is over the cap in EVERY band ->
    # skipped; the 2-member honest bucket still pairs
    assert got_capped == {(101, 102)}

    full = image_neardup_pairs(df, strict=True, max_bucket_size=1000)
    got_full = {(r["id_a"], r["id_b"]) for r in full.collect()}
    assert (101, 102) in got_full
    assert len(got_full) == 30 * 29 // 2 + 1  # all-pairs within the cluster
