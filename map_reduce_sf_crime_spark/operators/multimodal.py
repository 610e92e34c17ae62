"""Multimodal (image/audio/video) column plumbing.

Policy for a 100 TB training pipeline: media payloads are opaque
``binary`` columns with typed metadata alongside; decode / resize /
frame-sample run as Arrow-batched Pandas UDFs (``mapInPandas``) so the
JVM↔Python transfer is columnar and the Python work is per-batch, not
per-row. The heavy codecs (PIL/ffmpeg/soundfile) are NOT in this
image; ``decode_image`` is a real stdlib-only decoder for the
uncompressed formats (P5 PGM, BI_RGB BMP) and raises loudly for
compressed ones — the decoder seam is injectable
(``extract_features(media, decoder=...)``), and the Spark-side
plumbing (schema, partitioning, batch iteration, UDF signatures) is
identical for any decoder (tests/test_multimodal.py).

The testdata has no binary table, so payloads are derived from
``documents.text`` (utf-8 bytes) — stand-ins with realistic plumbing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the feature-extraction stage.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata (the ingest
    shape: payload, mime, n_bytes — all JVM-side expressions)."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def _pgm_raster(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a P5 PGM header and return ``(w, h, raster)`` with the
    exact-length/CRLF discipline documented in :func:`decode_image`."""
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    sep = payload[i : i + 1]
    i += 1  # the spec's single whitespace byte after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError(f"16-bit PGM not supported (maxval={maxval})")
    n = w * h
    # CRLF-written headers ("255\r\n"): the spec's single
    # whitespace is the '\r'; consume its paired '\n' ONLY when
    # the remaining length says there is one extra byte — a bare
    # '\r' separator followed by a real first pixel of value 0x0A
    # ('\n') is a valid file and must not lose that pixel, and a
    # greedy whitespace skip could likewise eat whitespace-valued
    # pixels. Then require an EXACT raster length so any other
    # header drift fails loudly instead of returning a shifted
    # mean.
    if (
        sep == b"\r"
        and payload[i : i + 1] == b"\n"
        and len(payload) - i == n + 1
    ):
        i += 1
    if len(payload) - i != n:
        raise ValueError(
            f"PGM raster size mismatch: header declares {n} bytes, "
            f"{len(payload) - i} remain after the header"
        )
    return w, h, payload[i : i + n]


def _bmp_info(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """Validate a BI_RGB BMP header; returns
    ``(pix_off, w, abs_h, bpp, row_bytes, stride)``."""
    import struct

    if len(payload) < 54:
        raise ValueError("BMP truncated before BITMAPINFOHEADER")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0:
        raise ValueError(
            f"only BI_RGB (uncompressed) BMP supported, got {compression}"
        )
    if bpp not in (8, 24):
        raise ValueError(f"only 8/24-bit BMP supported, got {bpp}")
    row_bytes = (w * bpp) // 8
    stride = (row_bytes + 3) & ~3  # rows pad to 4-byte boundaries
    return pix_off, w, abs(h), bpp, row_bytes, stride


def decode_image(payload: bytes) -> dict:
    """Real (stdlib-only) image decoder for the two uncompressed
    formats a header+pixel parse can handle without codec libraries:

    - **PGM binary (P5)** — netpbm grayscale: ``P5 <w> <h> <maxval>``
      header (whitespace/comment tolerant) then ``w*h`` raw bytes
      (maxval ≤ 255).
    - **BMP (BI_RGB)** — uncompressed 8- or 24-bit Windows bitmaps:
      BITMAPFILEHEADER (pixel-array offset at bytes 10..13) +
      BITMAPINFOHEADER (width/height/bpp/compression); rows are
      4-byte aligned, bottom-up (negative height = top-down), and the
      mean skips the row padding.

    Returns the same contract the feature-extraction seam consumes —
    ``n_frames`` (always 1 for stills) and ``mean_byte`` (mean pixel
    byte value) — plus ``width``/``height``/``format`` metadata.
    Compressed formats (JPEG/PNG/…) still raise: a production
    deployment plugs PIL/torchvision into the same injectable seam
    (``extract_features(media, decoder=...)``), whose batching,
    schema, and partitioning are identical for any decoder.
    Decode is pinned against independently-computed fixtures in
    tests/test_multimodal.py.
    """
    if payload[:2] == b"P5":
        w, h, pixels = _pgm_raster(payload)
        n = w * h
        return {
            "n_frames": 1,
            "mean_byte": (sum(pixels) / n) if n else 0.0,
            "width": w,
            "height": h,
            "format": "pgm",
        }
    if payload[:2] == b"BM":
        pix_off, w, abs_h, bpp, row_bytes, stride = _bmp_info(payload)
        total, count = 0, 0
        for r in range(abs_h):
            start = pix_off + r * stride
            row = payload[start : start + row_bytes]
            if len(row) != row_bytes:
                raise ValueError(f"BMP truncated at row {r}")
            total += sum(row)
            count += row_bytes
        return {
            "n_frames": 1,
            "mean_byte": (total / count) if count else 0.0,
            "width": w,
            "height": abs_h,
            "format": "bmp",
        }
    raise ValueError(
        "unsupported image format (stdlib decoder handles P5 PGM and "
        "uncompressed BMP; plug a codec-backed decoder into "
        "extract_features for JPEG/PNG/...)"
    )


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in decoder used by tests and the registry
    query: frame count and mean byte value derived from the payload."""
    n = len(payload)
    return {
        "n_frames": n // 100 + 1,  # pretend 100 bytes/frame
        "mean_byte": (sum(payload) / n) if n else 0.0,
    }


def extract_features(
    media: DataFrame, decoder: Callable[[bytes], dict] = fake_decode
) -> DataFrame:
    """mapInPandas feature extraction over Arrow record batches."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pdf["payload"].map(decoder)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"].astype("int32"),
                    "checksum": pdf["checksum"],
                    "n_frames": feats.map(lambda f: f["n_frames"]).astype("int32"),
                    # UNROUNDED: integer byte-sum / count divides bit-exactly
                    # in both engines; round-to-6dp diverges at .xxxxxx5
                    # boundaries (Python half-even vs DuckDB half-up)
                    "mean_byte": feats.map(lambda f: f["mean_byte"]),
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)


FRAME_BYTES = 100  # fake codec: fixed-size frames

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 3) -> DataFrame:
    """Frame-sampling stage: chop the payload into fixed-size frames,
    keep every ``every_n``-th, one output row per sampled frame — the
    video-keyframe shape (1 input row → K output rows through
    ``mapInPandas``, the batch-size change a scalar UDF can't do)."""
    import hashlib

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k.name: [] for k in FRAME_SCHEMA}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i in range(0, (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES):
                    if i % every_n:
                        continue
                    frame = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(frame))
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(_batches, FRAME_SCHEMA)


def sample_frames_sql(every_n: int = 3) -> str:
    """Twin: fixture text is ASCII so byte frames == char substrings."""
    return f"""
    with f as (
      select doc_id, unnest(range(0, (octet_length(encode(text)) + {FRAME_BYTES - 1})
                                      // {FRAME_BYTES})) as frame_idx,
             text
      from documents
    )
    select doc_id, frame_idx::int as frame_idx,
           octet_length(encode(substr(text, frame_idx * {FRAME_BYTES} + 1,
                                      {FRAME_BYTES})))::int as frame_bytes,
           md5(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) as frame_md5
    from f
    where frame_idx % {every_n} = 0
    """


def resize_binary(media: DataFrame, target_bytes: int = 256) -> DataFrame:
    """Resize stage stand-in: deterministic byte-stride downsample to
    ≤ ``target_bytes`` (a real deployment decodes + resizes here; the
    binary-in → binary-out plumbing and schema are what scale)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = []
            for payload in pdf["payload"]:
                step = max(1, -(-len(payload) // target_bytes))
                resized.append(bytes(payload[::step]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "n_bytes": [len(b) for b in resized],
                }
            ).astype({"n_bytes": "int32"})

    return media.select("doc_id", "payload").mapInPandas(_batches, RESIZE_SCHEMA)


def resize_sql(target_bytes: int = 256) -> str:
    """Twin of resize_binary over ASCII text: the byte-stride
    downsample ``payload[::step]`` is a character-stride substring,
    hashed so the gate compares md5 strings instead of raw binary."""
    t = target_bytes
    return f"""
    with s as (
      select doc_id, text, octet_length(encode(text)) as n,
             greatest(1, (octet_length(encode(text)) + {t - 1}) // {t}) as step
      from documents
    ),
    r as (
      select doc_id,
             array_to_string(
               list_transform(range(0, ((n + step - 1) // step)::int),
                              i -> substr(text, (i * step + 1)::int, 1)), '') as resized
      from s
    )
    select doc_id, md5(resized) as payload_md5,
           octet_length(encode(resized))::int as n_bytes
    from r
    """


# --------------------------------------- perceptual-hash image dedup

#: dHash grid: 8 rows × 9 columns → 8×8 adjacent-column comparisons
#: = 64 bits (Krawetz's difference hash, public: hackerfactor.com,
#: "Kind of Like That", 2013 — the standard cheap perceptual hash).
DHASH_ROWS, DHASH_COLS = 8, 9


def decode_pixels(payload: bytes) -> list[list[int]]:
    """Grayscale pixel grid (row-major ``h`` lists of ``w`` ints) from
    the same stdlib formats :func:`decode_image` handles: P5 PGM
    directly; BMP rows bottom-up-corrected, 24-bit reduced by integer
    ``(b + g + r) // 3`` so the result is bit-deterministic with no
    float luma. The codec seam stays injectable exactly like
    ``extract_features``'s — a production deployment plugs
    PIL into :func:`image_dhash` (any callable payload→grid)."""
    if payload[:2] == b"P5":
        w, h, raster = _pgm_raster(payload)
        return [list(raster[r * w : (r + 1) * w]) for r in range(h)]
    if payload[:2] == b"BM":
        import struct

        pix_off, w, abs_h, bpp, row_bytes, stride = _bmp_info(payload)
        (height,) = struct.unpack_from("<i", payload, 22)
        rows = []
        for r in range(abs_h):
            start = pix_off + r * stride
            row = payload[start : start + row_bytes]
            if len(row) != row_bytes:
                raise ValueError(f"BMP truncated at row {r}")
            if bpp == 8:
                rows.append(list(row))
            else:
                rows.append(
                    [
                        (row[3 * c] + row[3 * c + 1] + row[3 * c + 2]) // 3
                        for c in range(w)
                    ]
                )
        if height > 0:  # positive height = bottom-up storage
            rows.reverse()
        return rows
    raise ValueError(
        "unsupported image format (stdlib pixel decoder handles P5 PGM "
        "and uncompressed BMP; plug a codec-backed grid decoder into "
        "image_dhash for JPEG/PNG/...)"
    )


def fake_pixels(payload: bytes) -> list[list[int]]:
    """Deterministic stand-in grid for the text-derived payloads: the
    byte stream box-averaged straight into the 8×9 dHash grid (the
    shape a real decoder's image would be downsampled to anyway)."""
    n = len(payload)
    cells = DHASH_ROWS * DHASH_COLS
    grid = []
    for r in range(DHASH_ROWS):
        row = []
        for c in range(DHASH_COLS):
            k = r * DHASH_COLS + c
            lo, hi = k * n // cells, (k + 1) * n // cells
            chunk = payload[lo:hi]
            row.append(sum(chunk) // len(chunk) if chunk else 0)
        grid.append(row)
    return grid


def dhash64(grid: list[list[int]]) -> int:
    """64-bit difference hash of a grayscale grid: integer box-average
    down to 8×9, then bit (r, c) = cell[r][c] < cell[r][c+1] — row
    gradients survive brightness/contrast shifts and mild noise, so
    near-duplicate images land within a small Hamming distance.
    Integer arithmetic end to end (sums and floor divisions) — the
    hash is a pure function of the pixel grid, replay-stable across
    hosts. Returned as a SIGNED 64-bit int (two's complement) so it
    lands in a Spark LongType without overflow."""
    h, w = len(grid), len(grid[0]) if grid else 0
    if h == 0 or w == 0:
        return 0
    cell = [[0] * DHASH_COLS for _ in range(DHASH_ROWS)]
    for r in range(DHASH_ROWS):
        r_lo, r_hi = r * h // DHASH_ROWS, max((r + 1) * h // DHASH_ROWS, r * h // DHASH_ROWS + 1)
        r_hi = min(r_hi, h)
        for c in range(DHASH_COLS):
            c_lo = c * w // DHASH_COLS
            c_hi = min(max((c + 1) * w // DHASH_COLS, c_lo + 1), w)
            if c_lo >= w:
                c_lo = w - 1
            total = cnt = 0
            for rr in range(r_lo, r_hi):
                row = grid[rr]
                for cc in range(c_lo, c_hi):
                    total += row[cc]
                    cnt += 1
            cell[r][c] = total // cnt if cnt else 0
    bits = 0
    for r in range(DHASH_ROWS):
        for c in range(DHASH_COLS - 1):
            bits = (bits << 1) | (1 if cell[r][c] < cell[r][c + 1] else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_dhash(
    media: DataFrame,
    decoder: Callable[[bytes], list[list[int]]] = fake_pixels,
) -> DataFrame:
    """Per-image perceptual hash: ``(doc_id, dhash)`` via Arrow-batched
    ``mapInPandas`` (same plumbing contract as ``extract_features``;
    ``decoder`` maps payload → grayscale grid — :func:`decode_pixels`
    for real PGM/BMP bytes, :func:`fake_pixels` for the text-derived
    testdata)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "dhash": [
                        dhash64(decoder(p)) for p in pdf["payload"]
                    ],
                }
            ).astype({"dhash": "int64"})

    return media.select("doc_id", "payload").mapInPandas(_batches, schema)


def dhash_sql(table: str = "documents") -> str:
    """DuckDB twin of ``image_dhash(with_payload(docs), fake_pixels)``
    — the MM4 gate promotion. The fixture payload is the utf-8 encode
    of pure-ASCII text (bytes == character codes, the FEATURES_SQL
    argument), so the fake-decoder grid is reproducible in SQL:
    box-average the byte list into the 8×9 dHash grid with the same
    integer floor arithmetic, then build the 64 row-gradient bits.
    The sign bit is applied as ``-2^63`` directly (two's complement by
    construction — every term stays inside int64), matching
    ``dhash64``'s signed conversion bit for bit."""
    cells = DHASH_ROWS * DHASH_COLS
    return f"""
    with _dh0 as (
      select doc_id,
             list_transform(split(text, ''), c -> ascii(c)) as _bl,
             length(text) as _n
      from {table}
    ),
    _dhg as (
      select doc_id,
             list_transform(range(0, {cells}), k ->
               case when ((k + 1) * _n) // {cells} > (k * _n) // {cells}
                    then list_sum(
                           _bl[(k * _n) // {cells} + 1 :
                               ((k + 1) * _n) // {cells}]
                         ) // (((k + 1) * _n) // {cells}
                              - (k * _n) // {cells})
                    else 0 end) as _g
      from _dh0
    )
    select doc_id,
           cast(list_sum(list_transform(range(0, 64), i ->
             (case when _g[(i // 8) * {DHASH_COLS} + (i % 8) + 1]
                      < _g[(i // 8) * {DHASH_COLS} + (i % 8) + 2]
                   then 1 else 0 end)
             * (case when i = 0 then -9223372036854775808
                     else (1::bigint << cast(63 - i as int)) end)
           )) as bigint) as dhash
    from _dhg
    """


#: SQL twin of with_payload+extract_features with the fake decoder.
#: The fixture text is pure ASCII (verified ≤ 0x79), so utf-8 bytes ==
#: character codes: DuckDB md5(text) == Spark md5(encode(text, 'utf-8'))
#: and mean byte == mean ascii() over characters.
FEATURES_SQL = """
with b as (
  select doc_id, octet_length(encode(text)) as n_bytes, md5(text) as checksum,
         list_transform(split(text, ''), c -> ascii(c)) as bytes_list
  from documents
)
select doc_id, n_bytes::int as n_bytes, checksum,
       (n_bytes // 100 + 1)::int as n_frames,
       case when n_bytes = 0 then 0.0
            else list_sum(bytes_list) * 1.0 / n_bytes end as mean_byte
from b
"""


#: Output schema of the fused feature+dhash stage: FEATURE_SCHEMA's
#: columns followed by the 64-bit perceptual hash.
FEATURE_DHASH_SCHEMA = T.StructType(
    list(FEATURE_SCHEMA) + [T.StructField("dhash", T.LongType())]
)


def features_with_dhash(
    media: DataFrame,
    decoder: Callable[[bytes], dict] = fake_decode,
    pixel_decoder: Callable[[bytes], list[list[int]]] = fake_pixels,
) -> DataFrame:
    """:func:`extract_features` and :func:`image_dhash` fused into ONE
    ``mapInPandas`` pass — the payload crosses the JVM↔Arrow boundary
    once and the doc_id join between the two feature frames disappears
    (it was a full second decode pass + a broadcast join per serve).
    Output ≡ ``extract_features(media, decoder).join(image_dhash(media,
    pixel_decoder), "doc_id")`` bit for bit (pytest-pinned).

    With the default FAKE decoders the batch loop is vectorized with
    numpy over one concatenated byte buffer (prefix sums; integer
    floor arithmetic identical to the scalar forms — ``sum//len`` per
    box cell, ``lens//100 + 1`` frames, float64 ``sum/len`` mean), so
    no per-row Python executes. Custom decoders (the injectable codec
    seam) take the generic per-row path with identical semantics."""
    import numpy as np

    vectorized = decoder is fake_decode and pixel_decoder is fake_pixels
    cells = DHASH_ROWS * DHASH_COLS

    def _fake_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        payloads = list(pdf["payload"])
        n = len(payloads)
        lens = np.fromiter((len(p) for p in payloads), np.int64, count=n)
        buf = np.frombuffer(b"".join(payloads), np.uint8).astype(np.int64)
        cum = np.concatenate(([0], np.cumsum(buf)))
        offs = np.concatenate(([0], np.cumsum(lens)))
        sums = cum[offs[1:]] - cum[offs[:-1]]
        mean_byte = np.where(lens > 0, sums / np.maximum(lens, 1), 0.0)
        # fake_pixels grid: cell k spans bytes [k*n//cells, (k+1)*n//cells)
        k = np.arange(cells + 1, dtype=np.int64)[None, :]
        edge = k * lens[:, None] // cells + offs[:-1, None]
        csum = cum[edge[:, 1:]] - cum[edge[:, :-1]]
        cnt = edge[:, 1:] - edge[:, :-1]
        cell = np.where(cnt > 0, csum // np.maximum(cnt, 1), 0).reshape(
            n, DHASH_ROWS, DHASH_COLS
        )
        # dhash64 over an already-8×9 grid is the adjacent-column
        # comparison directly (its box-average is the identity there)
        bits = (cell[:, :, :-1] < cell[:, :, 1:]).reshape(n, 64)
        low = (
            bits[:, 1:].astype(np.int64)
            * (np.int64(1) << (62 - np.arange(63, dtype=np.int64)))[None, :]
        ).sum(axis=1)
        dhash = low + np.where(bits[:, 0], np.int64(-(2**63)), np.int64(0))
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["n_bytes"].astype("int32"),
                "checksum": pdf["checksum"],
                "n_frames": (lens // FRAME_BYTES + 1).astype("int32"),
                "mean_byte": mean_byte,
                "dhash": dhash,
            }
        )

    def _generic_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        feats = pdf["payload"].map(decoder)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["n_bytes"].astype("int32"),
                "checksum": pdf["checksum"],
                "n_frames": feats.map(lambda f: f["n_frames"]).astype("int32"),
                "mean_byte": feats.map(lambda f: f["mean_byte"]),
                "dhash": pd.Series(
                    [dhash64(pixel_decoder(p)) for p in pdf["payload"]],
                    index=pdf.index,
                    dtype="int64",
                ),
            }
        )

    per_batch = _fake_batch if vectorized else _generic_batch

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield per_batch(pdf)

    return media.select("doc_id", "payload", "n_bytes", "checksum").mapInPandas(
        _batches, FEATURE_DHASH_SCHEMA
    )
