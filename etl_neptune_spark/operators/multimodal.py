"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow row kernels (``boundary.map_rows``).

No reference counterpart (BASELINE.json north star). The design for a
100 TB multimodal corpus: media lives as a ``binary`` column (or
pointers to object storage) beside typed metadata columns; decode /
feature-extract / resize / frame-sample run as ``mapInArrow`` row
kernels so each Python crossing handles a whole Arrow batch and the
operator parallelizes per input split with no shuffle.

Codec resolution order per payload: the pure-stdlib PNG codec
(``functions.pngcodec``: zlib + numpy, REAL decode/resize/re-encode for
8-bit PNG) → the pure-stdlib baseline JPEG codec
(``functions.jpegcodec``) → a deterministic fake over the raw bytes for
payloads that are not decodable images (the driver fixtures' UTF-8 text
always lands here). Both codecs are stdlib + numpy, so every answer is
the same on every host, whatever image libraries it has installed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundary import map_rows
from ..functions import avicodec as _avi
from ..functions import jpegcodec as _jpeg
from ..functions import pngcodec as _png

IMAGE_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, channels int, format string"
)

_FORMATS = ("png", "jpeg", "webp")


def _fake_decode(payload: bytes) -> dict:
    """DETERMINISTIC FAKE decode — stands in for a real image codec.

    Derives stable pseudo-metadata from the byte content so the
    pipeline shape (and the oracle check) is end-to-end real. This is
    the path every non-image payload takes, and the only path where no
    image library is installed.
    """
    n = len(payload)
    first = payload[0] if n else 0
    return {
        "n_bytes": n,
        "width": n % 640 + 1,
        "height": (n * 7) % 480 + 1,
        "channels": 3,
        "format": _FORMATS[first % len(_FORMATS)],
    }


def _decode_payload(payload: bytes) -> dict:
    """Image metadata, keys in ``IMAGE_META_SCHEMA`` order: the stdlib
    PNG codec for PNG payloads, a JPEG header read for JPEG payloads,
    the deterministic fake otherwise (fixture payloads are text bytes,
    so oracle runs on the driver tables always take the fake path)."""
    if _png.is_png(payload):
        try:
            img = _png.decode(payload)
            return {
                "n_bytes": len(payload),
                "width": int(img.shape[1]),
                "height": int(img.shape[0]),
                "channels": int(img.shape[2]) if img.ndim == 3 else 1,
                "format": "png",
            }
        except _png.PngError:
            pass
    if _jpeg.is_jpeg(payload):
        # real JPEG path (functions.jpegcodec): SOF header read — no
        # full decode needed for metadata
        try:
            w, h, c = _jpeg.dims(payload)
            return {
                "n_bytes": len(payload),
                "width": w,
                "height": h,
                "channels": c,
                "format": "jpeg",
            }
        except _jpeg.JpegError:
            pass
    return _fake_decode(payload)


def with_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Fixture adapter: fabricate the binary media column from text
    bytes (the driver tables carry no true binary column)."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def decode_image_meta(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """binary payload → typed image metadata, one Arrow row kernel."""

    def row(i, b):
        yield (i, *_decode_payload(b).values())

    return map_rows(df.select(id_col, bin_col), row, IMAGE_META_SCHEMA)


def extract_features(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", dim: int = 16
) -> DataFrame:
    """binary payload → fixed-width float feature vector.

    Real implementation would run a vision/audio encoder over the
    decoded media; here a DETERMINISTIC FAKE embedding (normalized byte
    histogram folded to ``dim`` buckets) keeps the Spark-side contract
    — Arrow batch in, ``array<float>`` column out, schema stable —
    fully real and testable. The output feeds the similarity operators
    unchanged (``operators.similarity`` consumes any array<float>)."""

    def row(i, b):
        arr = np.frombuffer(b, dtype=np.uint8)
        # float64 histogram/norm, one final round to float32:
        # engine-reproducible (integer sums are exact in f64; the f64
        # quotient rounds to REAL identically in SQL), unlike
        # all-float32 arithmetic with its double-rounding.
        hist = np.bincount(arr % dim, minlength=dim).astype("float64")
        n = np.linalg.norm(hist)
        yield i, (hist / n if n else hist).astype("float32").tolist()

    return map_rows(
        df.select(id_col, bin_col), row, "doc_id bigint, features array<float>"
    )


def resize_images(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    width: int = 224,
    height: int = 224,
) -> DataFrame:
    """binary payload → resized binary payload + output dims.

    PNG payloads are really resized by the stdlib codec (decode →
    nearest-neighbor resample → re-encode); everything else — the
    text-byte fixtures always — takes the deterministic fake resample
    (width*height/64 bytes), preserving the contract: binary in, binary
    out, typed."""
    target = max(1, width * height // 64)

    def resized(raw: bytes) -> bytes:
        if _png.is_png(raw):
            try:
                return _png.encode(_png.resize_nearest(_png.decode(raw), width, height))
            except _png.PngError:
                pass
        return raw[:: max(1, len(raw) // target)][:target]

    def row(i, b):
        yield i, resized(b), width, height

    return map_rows(
        df.select(id_col, bin_col),
        row,
        "doc_id bigint, payload binary, width int, height int",
    )


def fabricate_png(
    df: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(id, payload) with payload a REAL PNG byte stream, fabricated
    deterministically from table columns: dims ``(size % 13 + 4) ×
    (size % 7 + 3)``, RGB pixels ``(i · (id % 251 + 1)) % 256``. This is
    the fixture adapter for certifying the codec END-TO-END through the
    driver gate — the pixel recurrence is SQL-expressible, so an oracle
    can predict exactly what a correct decode must recover (see
    q_png_pipeline), while the bytes on the wire are genuine
    zlib-compressed PNG scanlines, not text."""

    def row(i, n):
        w, h = n % 13 + 4, n % 7 + 3
        k = i % 251 + 1
        img = (
            (np.arange(w * h * 3, dtype=np.int64) * k % 256)
            .astype(np.uint8)
            .reshape(h, w, 3)
        )
        yield i, _png.encode(img)

    return map_rows(df.select(id_col, size_col), row, "doc_id bigint, payload binary")


def fabricate_jpeg(
    df: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(id, payload) with payload a REAL baseline JFIF byte stream —
    the JPEG analogue of ``fabricate_png``. The image is a grid of
    CONSTANT 8×8 grayscale tiles, ``(size % 3 + 2) × (size % 2 + 2)``
    tiles, tile t's value ``2·((id·7 + t·13) % 128)`` — even values, so
    every block is DC-only with a quantizer-divisible DC and the lossy
    codec round-trips it EXACTLY (functions.jpegcodec module note).
    That makes the decoded pixels SQL-predictable (q_jpeg_pipeline)
    while the wire bytes are genuine Huffman-coded DCT data."""

    def row(i, n):
        tw, th = n % 3 + 2, n % 2 + 2
        t = np.arange(tw * th, dtype=np.int64).reshape(th, tw)
        tiles = ((i * 7 + t * 13) % 128 * 2).astype(np.uint8)
        img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
        yield i, _jpeg.encode(img, quality=50)

    return map_rows(df.select(id_col, size_col), row, "doc_id bigint, payload binary")


_PIXEL_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "format string, pixel_checksum bigint"
)


def _pixel_stats(i, img, fmt: str) -> tuple:
    h, w = img.shape[:2]
    c = int(img.shape[2]) if img.ndim == 3 else 1
    return i, w, h, c, fmt, int(np.sum(img, dtype=np.int64) % 10007)


def decode_jpeg_pixel_stats(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL-decode certificate for JPEG: payload → dims, channels,
    format, and the exact pixel checksum (Σ decoded bytes mod 10007).
    Non-JPEG payloads raise by design — this certifies the codec."""

    def row(i, b):
        yield _pixel_stats(i, _jpeg.decode(b), "jpeg")

    return map_rows(df.select(id_col, bin_col), row, _PIXEL_STATS_SCHEMA)


def decode_pixel_stats(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL-decode certificate: PNG payload → dims, channels, format,
    and an exact integer pixel checksum (Σ pixel bytes mod 10007) from
    the DECODED image. Any corruption anywhere in encode → transport →
    decode changes the checksum; the fake path is never taken (a
    non-PNG payload raises, by design — this operator certifies the
    codec, not the fallback)."""

    def row(i, b):
        yield _pixel_stats(i, _png.decode(b), "png")

    return map_rows(df.select(id_col, bin_col), row, _PIXEL_STATS_SCHEMA)


def fabricate_wav(
    df: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(id, payload) with payload a REAL 16-bit PCM WAV byte stream,
    fabricated deterministically from table columns: n = size%500+64
    mono samples, sample_i = ((i · (id%127+1)) % 4001) − 2000. The
    audio counterpart of ``fabricate_png`` — the sample recurrence is
    SQL-expressible, so an oracle can predict exactly what a correct
    decode must recover (q_wav_pipeline) while the bytes are a genuine
    RIFF container."""
    from ..functions import wavcodec as _wav

    def row(i, n):
        cnt = n % 500 + 64
        k = i % 127 + 1
        s = (np.arange(cnt, dtype=np.int64) * k % 4001 - 2000).astype(np.int16)
        yield i, _wav.encode(s)

    return map_rows(df.select(id_col, size_col), row, "doc_id bigint, payload binary")


def decode_audio_stats(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """REAL-decode audio certificate: WAV payload → sample count, frame
    count, exact integer frame energies (total + first 256-sample
    frame) and the zero-crossing count, all from the DECODED samples —
    pure integer arithmetic, bit-reproducible, SQL-predictable for
    fabricated fixtures. A non-WAV payload raises by design (this
    certifies the codec, not a fallback)."""
    from ..functions import wavcodec as _wav

    def row(i, b):
        samples, _sr = _wav.decode(b)
        en = _wav.frame_energies(samples, frame=256)
        yield (
            i,
            int(samples.shape[0]),
            len(en),
            int(en.sum()),
            int(en[0]) if len(en) else 0,
            _wav.zero_crossings(samples),
        )

    return map_rows(
        df.select(id_col, bin_col),
        row,
        "doc_id bigint, n_samples bigint, n_frames bigint, "
        "total_energy bigint, energy_f0 bigint, n_zero_cross bigint",
    )


def frame_sample_plan(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", every_n: int = 10
) -> DataFrame:
    """Video-frame sampling plumbing: one output row per sampled frame
    index. AVI payloads take the REAL container path (header probe via
    functions.avicodec); other payloads keep the deterministic fake
    probe so the text-fixture oracle (q_frame_sample) is unchanged.
    Full frame EXTRACTION + decode is ``frame_sample`` below."""

    def row(i, b):
        if _avi.is_avi(b):
            n_frames = _avi.probe(b)["n_frames"]
        else:
            n_frames = len(b) % 300 + 1  # fake probe
        for f in range(0, n_frames, every_n):
            yield i, f

    return map_rows(
        df.select(id_col, bin_col), row, "doc_id bigint, frame_idx bigint"
    )


def fabricate_avi(
    df: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(id, payload) with payload a REAL MJPEG-in-AVI byte stream —
    the video analogue of ``fabricate_jpeg`` (VERDICT r6 task 5, the
    last synthetic-media path made real). ``size % 4 + 2`` frames of
    ``(size % 3 + 2) × (size % 2 + 2)`` constant 8×8 tiles; frame f's
    tile t carries ``2·((id·7 + f·11 + t·13) % 128)`` — even DC-only
    values, so every frame's JPEG round-trips EXACTLY and the sampled
    frames' pixels are SQL-predictable (q_mjpeg_pipeline) while the
    wire bytes are a genuine RIFF container of Huffman-coded frames."""

    def row(i, n):
        tw, th = n % 3 + 2, n % 2 + 2
        t = np.arange(tw * th, dtype=np.int64).reshape(th, tw)
        frames = [
            _jpeg.encode(
                np.kron(
                    ((i * 7 + f * 11 + t * 13) % 128 * 2).astype(np.uint8),
                    np.ones((8, 8), dtype=np.uint8),
                ),
                quality=50,
            )
            for f in range(n % 4 + 2)
        ]
        yield i, _avi.encode(frames, tw * 8, th * 8)

    return map_rows(df.select(id_col, size_col), row, "doc_id bigint, payload binary")


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    every_n: int = 2,
) -> DataFrame:
    """REAL video frame sampling: parse the AVI container, take every
    ``every_n``-th frame, decode each sampled frame through the stdlib
    JPEG codec, and emit dims + the exact decoded pixel checksum per
    sampled frame. Non-AVI payloads raise by design — this certifies
    the container walk + per-frame codec, not a fallback. One Arrow
    pass, no shuffle; at 100 TB the per-file unit is a video whose
    frames decode independently inside the batch."""

    def row(i, b):
        frames, _info = _avi.decode(b)
        for f in range(0, len(frames), every_n):
            img = _jpeg.decode(frames[f])
            h, w = img.shape[:2]
            yield i, f, w, h, int(np.sum(img, dtype=np.int64) % 10007)

    return map_rows(
        df.select(id_col, bin_col),
        row,
        "doc_id bigint, frame_idx bigint, width int, height int, "
        "pixel_checksum bigint",
    )


def perceptual_hash(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """binary payload → 64-bit average-hash (aHash) bit string — the
    perceptual near-dup key for media: resample the payload to ≤64
    bytes (same deterministic resample as ``resize_images``; a real
    codec would hand back an 8×8 grayscale thumbnail), then bit_j =
    (byte_j above the thumbnail mean). The mean test is the exact
    integer comparison ``byte_j * k > Σbytes`` so no division enters —
    bit-for-bit reproducible in any engine.

    Scale posture: one Arrow row-kernel pass, no shuffle; the
    downstream bucket/band joins are the same keyed equi-joins every
    other dedup family uses (hash cardinality grows with the corpus).
    """

    def phash(raw: bytes) -> str:
        if _png.is_png(raw):
            # REAL pixel path: aHash over the decoded 8×8 grayscale
            # thumbnail (resolution-invariant — the actual perceptual
            # key). Text fixtures never take this branch, so oracles
            # are unchanged.
            try:
                return _png.ahash64(_png.decode(raw))
            except _png.PngError:
                pass
        if _jpeg.is_jpeg(raw):
            # REAL JPEG pixel path via the stdlib codec
            try:
                return _png.ahash64(_jpeg.decode(raw))
            except _jpeg.JpegError:
                pass
        sel = raw[:: max(1, len(raw) // 64)][:64]
        k, total = len(sel), sum(sel)
        return "".join("1" if v * k > total else "0" for v in sel)

    def row(i, b):
        yield i, phash(b)

    return map_rows(df.select(id_col, bin_col), row, "doc_id bigint, phash string")
