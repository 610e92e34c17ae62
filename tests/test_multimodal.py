"""Multimodal plumbing: schema, batch shapes, stubbed decoder gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_sf_crime_spark.operators import multimodal
from map_reduce_sf_crime_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_payload_schema(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.with_payload(docs)
    kinds = dict(media.dtypes)
    assert kinds["payload"] == "binary"
    assert kinds["n_bytes"] == "int"
    r = media.filter(F.col("doc_id") == 0).first()
    assert r.n_bytes == len(r.payload)


def _make_pgm(w: int, h: int, pixels: bytes) -> bytes:
    """Independent P5 construction (with a header comment, which the
    parser must skip)."""
    assert len(pixels) == w * h
    return b"P5\n# fixture\n%d %d\n255\n" % (w, h) + pixels


def _make_bmp24(w: int, h: int, rows_rgb: list[bytes]) -> bytes:
    """Independent bottom-up 24-bit BI_RGB BMP construction: standard
    54-byte header + 4-byte-aligned rows."""
    import struct

    row_bytes = w * 3
    stride = (row_bytes + 3) & ~3
    pix = b"".join(r + b"\x00" * (stride - row_bytes) for r in rows_rgb)
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
    )
    return header + pix


def test_real_decoder_pgm_and_bmp(spark, tmp_path):
    """decode_image is a real decoder now: a planted PGM file on disk
    and an in-memory BMP both decode, with mean/width/height checked
    against independent arithmetic; compressed formats still fail
    loudly."""
    pixels = bytes(range(12))  # 4x3 grayscale, mean = 5.5
    pgm = _make_pgm(4, 3, pixels)
    planted = tmp_path / "fixture.pgm"
    planted.write_bytes(pgm)
    got = multimodal.decode_image(planted.read_bytes())
    assert (got["width"], got["height"], got["format"]) == (4, 3, "pgm")
    assert got["n_frames"] == 1
    assert got["mean_byte"] == sum(pixels) / 12

    # 2x2 24-bit BMP, bottom-up rows, padding must NOT enter the mean
    rows = [bytes([1, 2, 3, 4, 5, 6]), bytes([7, 8, 9, 10, 11, 12])]
    bmp = _make_bmp24(2, 2, rows)
    got = multimodal.decode_image(bmp)
    assert (got["width"], got["height"], got["format"]) == (2, 2, "bmp")
    assert got["mean_byte"] == sum(range(1, 13)) / 12

    with pytest.raises(ValueError, match="unsupported image format"):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="BI_RGB"):
        bad = bytearray(bmp)
        bad[30] = 1  # BI_RLE8
        multimodal.decode_image(bytes(bad))


def test_real_decoder_through_spark_pipeline(spark):
    """The same injectable seam the fake decoder uses runs the REAL
    decoder end-to-end through mapInPandas: binary payload column in,
    per-image features out."""
    imgs = [
        (0, _make_pgm(4, 3, bytes(range(12)))),
        (1, _make_bmp24(2, 2, [bytes([1, 2, 3, 4, 5, 6]), bytes([7, 8, 9, 10, 11, 12])])),
        (2, _make_pgm(1, 1, b"\xff")),
    ]
    import hashlib

    media = spark.createDataFrame(
        [
            (doc_id, p, len(p), hashlib.md5(p).hexdigest())
            for doc_id, p in imgs
        ],
        "doc_id long, payload binary, n_bytes int, checksum string",
    )
    rows = {
        r.doc_id: r
        for r in multimodal.extract_features(
            media, decoder=multimodal.decode_image
        ).collect()
    }
    assert rows[0].mean_byte == 5.5
    assert rows[1].mean_byte == 6.5
    assert rows[2].mean_byte == 255.0
    assert all(rows[i].n_frames == 1 for i in rows)


def test_feature_extraction_batches(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    feats = multimodal.extract_features(multimodal.with_payload(docs))
    rows = feats.collect()
    assert len(rows) == 50
    assert feats.schema == multimodal.FEATURE_SCHEMA
    r = {x.doc_id: x for x in rows}
    docs_rows = {x.doc_id: x.text for x in docs.collect()}
    for did, row in list(r.items())[:5]:
        payload = docs_rows[did].encode()
        assert row.n_bytes == len(payload)
        assert row.n_frames == len(payload) // 100 + 1
        assert abs(row.mean_byte - round(sum(payload) / len(payload), 6)) < 1e-6


def test_frame_sampling_conservation(spark):
    """Every 3rd fixed-size frame is emitted: per doc, sampled frame
    count == ceil(ceil(n/100)/3), and frame 0 is always present."""
    from pyspark.sql import functions as F

    from map_reduce_sf_crime_spark.operators import multimodal

    media = multimodal.with_payload(_docs(spark))
    frames = multimodal.sample_frames(media, every_n=3)
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("k"), F.min("frame_idx").alias("first")
    )
    joined = media.select("doc_id", "n_bytes").join(per_doc, "doc_id").collect()
    assert joined
    for r in joined:
        total = -(-r.n_bytes // 100)
        assert r.k == -(-total // 3)
        assert r.first == 0


def test_resize_deterministic_and_bounded(spark):
    from map_reduce_sf_crime_spark.operators import multimodal

    media = multimodal.with_payload(_docs(spark))
    a = {(r.doc_id, r.n_bytes, bytes(r.payload)) for r in
         multimodal.resize_binary(media, 256).collect()}
    b = {(r.doc_id, r.n_bytes, bytes(r.payload)) for r in
         multimodal.resize_binary(media, 256).collect()}
    assert a == b
    assert all(n <= 256 and n > 0 for _, n, _ in a)


def test_pgm_crlf_header_and_size_mismatch(spark):
    """A CRLF-written P5 header decodes correctly (stray '\\n' before
    the raster consumed), and any header/raster size mismatch raises
    loudly instead of returning a silently shifted mean."""
    pixels = bytes(range(12))
    crlf = b"P5\r\n4 3\r\n255\r\n" + pixels
    got = multimodal.decode_image(crlf)
    assert (got["width"], got["height"]) == (4, 3)
    assert got["mean_byte"] == sum(pixels) / 12

    truncated = b"P5\n4 3\n255\n" + pixels[:-1]
    with pytest.raises(ValueError, match="size mismatch"):
        multimodal.decode_image(truncated)
    trailing = b"P5\n4 3\n255\n" + pixels + b"\x41"
    with pytest.raises(ValueError, match="size mismatch"):
        multimodal.decode_image(trailing)


# ---------------------------------------- perceptual-hash image dedup


def test_decode_pixels_pgm_and_bmp():
    """Pixel grids from both stdlib formats: PGM row-major, BMP
    bottom-up reversed to top-down with integer (b+g+r)//3 luma."""
    pixels = bytes(range(12))  # 4x3
    grid = multimodal.decode_pixels(_make_pgm(4, 3, pixels))
    assert grid == [[0, 1, 2, 3], [4, 5, 6, 7], [8, 9, 10, 11]]
    # bottom-up BMP: storage rows [bottom, top] must come back
    # [top, bottom]; luma = integer mean of the BGR triple
    rows_rgb = [bytes([30, 60, 90, 12, 24, 36]), bytes([3, 6, 9, 9, 18, 27])]
    grid = multimodal.decode_pixels(_make_bmp24(2, 2, rows_rgb))
    assert grid == [[6, 18], [60, 24]]
    with pytest.raises(ValueError, match="unsupported image format"):
        multimodal.decode_pixels(b"\x89PNG....")


def test_dhash_closed_forms_and_invariance():
    """Hand-derivable hashes: strictly increasing rows set all 64 bits
    (signed -1), decreasing rows none (0); the hash is invariant to
    brightness shift and contrast scaling (order-preserving maps)."""
    inc = [[c * 10 for c in range(9)] for _ in range(8)]
    dec = [[90 - c * 10 for c in range(9)] for _ in range(8)]
    assert multimodal.dhash64(inc) == -1  # 64 ones, two's complement
    assert multimodal.dhash64(dec) == 0
    import random

    rng = random.Random(7)
    grid = [[rng.randrange(200) for _ in range(18)] for _ in range(16)]
    base = multimodal.dhash64(grid)
    shifted = [[p + 30 for p in row] for row in grid]
    scaled = [[p * 2 for p in row] for row in grid]
    # brightness shift is EXACTLY invariant (floor((s + k*n)/n) =
    # floor(s/n) + k); contrast scaling is invariant up to
    # floor-division tie flips on near-equal neighbor cells — a few
    # bits, i.e. still well inside the near-dup Hamming ball
    assert multimodal.dhash64(shifted) == base
    mask = (1 << 64) - 1
    assert bin((multimodal.dhash64(scaled) ^ base) & mask).count("1") <= 3
    # degenerate inputs don't crash and are stable
    assert multimodal.dhash64([]) == 0
    assert multimodal.dhash64([[5]]) == 0  # single cell: no gradient


def test_fake_pixels_shape_and_determinism():
    g = multimodal.fake_pixels(b"hello world, a payload of some length")
    assert len(g) == 8 and all(len(r) == 9 for r in g)
    assert g == multimodal.fake_pixels(
        b"hello world, a payload of some length"
    )
    assert multimodal.fake_pixels(b"") == [[0] * 9 for _ in range(8)]


def test_features_with_dhash_fused_equals_composition(spark):
    """r11 fusion: the single-pass features_with_dhash must equal
    extract_features ⋈ image_dhash BIT FOR BIT — on the vectorized
    fake-decoder path AND the generic injectable-decoder path (forced
    by passing non-default callables), including empty payloads."""
    docs = _docs(spark).limit(120).union(
        spark.createDataFrame(
            [(10_000_001, "", "x", "en", 0)],
            "doc_id long, text string, source string, lang string, n_chars int",
        ).select(*_docs(spark).columns)
    )
    media = multimodal.with_payload(docs)
    fused = multimodal.features_with_dhash(media)
    assert fused.schema == multimodal.FEATURE_DHASH_SCHEMA
    comp = multimodal.extract_features(media).join(
        multimodal.image_dhash(media), "doc_id"
    )
    a = sorted(map(tuple, fused.collect()))
    b = sorted(map(tuple, comp.select(*fused.columns).collect()))
    assert a == b
    generic = multimodal.features_with_dhash(
        media,
        decoder=lambda p: multimodal.fake_decode(p),
        pixel_decoder=lambda p: multimodal.fake_pixels(p),
    )
    assert sorted(map(tuple, generic.collect())) == a


def test_features_with_dhash_real_decoders(spark):
    """Fused pass with the REAL stdlib decoders (PGM payloads through
    Spark) equals the composition — the injectable seam's contract."""
    import pandas as pd

    pgms = [
        (1, _make_pgm(4, 3, bytes(range(12)))),
        (2, _make_pgm(2, 2, bytes([10, 20, 30, 40]))),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [i for i, _ in pgms],
                "payload": [p for _, p in pgms],
                "n_bytes": [len(p) for _, p in pgms],
                "checksum": ["c1", "c2"],
            }
        )
    )
    fused = multimodal.features_with_dhash(
        media,
        decoder=multimodal.decode_image,
        pixel_decoder=multimodal.decode_pixels,
    )
    comp = multimodal.extract_features(media, decoder=multimodal.decode_image).join(
        multimodal.image_dhash(media, decoder=multimodal.decode_pixels), "doc_id"
    )
    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, comp.select(*fused.columns).collect())
    )
