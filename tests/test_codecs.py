"""Exact-value tests for the stdlib PNG/WAV codecs (ner_spark/codecs.py).

The filter tests build PNG byte streams BY HAND in the test (independent
chunk writer + the spec's forward-filter arithmetic transcribed directly
from RFC 2083 §6), so the decoder is checked against the spec, not
against our own encoder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ner_spark.codecs import decode_png, decode_wav, encode_png, encode_wav


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_bytes(img: np.ndarray, filters: list[int], color_type: int = 0,
               plte: bytes | None = None) -> bytes:
    """Hand-assembled PNG with a chosen filter per scanline (forward
    filtering per the PNG spec, independently of codecs.encode_png)."""
    h, w = img.shape[:2]
    bpp = {0: 1, 2: 3, 3: 1, 6: 4}[color_type]
    flat = img.reshape(h, w * bpp).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * bpp, np.int32)
    for y, ftype in zip(range(h), filters):
        line = flat[y]
        out = np.zeros(w * bpp, np.int32)
        for x in range(w * bpp):
            left = line[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                out[x] = line[x]
            elif ftype == 1:
                out[x] = (line[x] - left) & 0xFF
            elif ftype == 2:
                out[x] = (line[x] - up) & 0xFF
            elif ftype == 3:
                out[x] = (line[x] - (left + up) // 2) & 0xFF
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                out[x] = (line[x] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = flat[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    body = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        body += _chunk(b"PLTE", plte)
    return body + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


def test_png_roundtrip_gray():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 17), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_roundtrip_rgb_rgba():
    rng = np.random.default_rng(8)
    for c in (3, 4):
        img = rng.integers(0, 256, (9, 5, c), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_each_filter_type_inverts(ftype):
    rng = np.random.default_rng(100 + ftype)
    img = rng.integers(0, 256, (6, 11), dtype=np.uint8)
    data = _png_bytes(img, [ftype] * 6)
    assert np.array_equal(decode_png(data), img)


def test_png_mixed_filters_rgb():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    data = _png_bytes(img, [0, 1, 2, 3, 4], color_type=2)
    assert np.array_equal(decode_png(data), img)


def test_png_palette():
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    got = decode_png(_png_bytes(idx, [0, 0], color_type=3, plte=plte))
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [0, 255, 0]]], np.uint8
    )
    assert np.array_equal(got, expect)


def test_png_crc_corruption_raises():
    data = bytearray(encode_png(np.zeros((4, 4), np.uint8)))
    data[20] ^= 0xFF  # flip a bit inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_png_bad_signature_and_interlace_raise():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\xff\xd8not-a-png")
    img = np.zeros((2, 2), np.uint8)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)  # interlace=1
    data = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_png(data)


def test_wav_roundtrip_8bit_and_16bit():
    rng = np.random.default_rng(3)
    s8 = rng.integers(0, 256, 777, dtype=np.uint8)
    got, rate = decode_wav(encode_wav(s8, 16000))
    assert rate == 16000 and got.dtype == np.uint8
    assert np.array_equal(got, s8)
    s16 = rng.integers(-(2**15), 2**15, 500).astype(np.int16)
    got16, rate16 = decode_wav(encode_wav(s16, 44100))
    assert rate16 == 44100 and got16.dtype == np.int16
    assert np.array_equal(got16, s16)


def test_wav_stereo_keeps_channel_zero():
    import io
    import wave

    left = np.arange(100, dtype=np.int16)
    right = -left
    inter = np.empty(200, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(inter.astype("<i2").tobytes())
    got, rate = decode_wav(buf.getvalue())
    assert rate == 8000
    assert np.array_equal(got, left)


def test_container_and_stub_decode_agree():
    """The same pixel/sample stream decodes identically whether it rides
    the x-fake stub or a real container — the invariant that makes the
    registry entries comparable across the format mix."""
    from ner_spark.multimodal import FAKE_FORMAT, decode_audio, decode_image

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (23, 31), dtype=np.uint8)
    meta_fake = {"format": FAKE_FORMAT, "width": 31, "height": 23}
    meta_png = {"format": "png", "width": 31, "height": 23}
    assert np.array_equal(
        decode_image(img.tobytes(), meta_fake),
        decode_image(encode_png(img), meta_png),
    )
    samples = rng.integers(0, 256, 640, dtype=np.uint8)
    assert np.array_equal(
        decode_audio(samples.tobytes(), {"format": FAKE_FORMAT}),
        decode_audio(encode_wav(samples, 16000), {"format": "wav"}),
    )


def test_png_luma_collapse_is_integer_deterministic():
    from ner_spark.multimodal import decode_image

    img = np.zeros((2, 2, 3), np.uint8)
    img[0, 0] = [255, 0, 0]
    img[0, 1] = [0, 255, 0]
    img[1, 0] = [0, 0, 255]
    img[1, 1] = [10, 20, 30]
    got = decode_image(encode_png(img), {"format": "png"})
    expect = np.array(
        [
            [255 * 299 // 1000, 255 * 587 // 1000],
            [255 * 114 // 1000, (10 * 299 + 20 * 587 + 30 * 114) // 1000],
        ],
        np.uint8,
    )
    assert np.array_equal(got, expect)


# ---------------------------------------------------------------------------
# JPEG (baseline sequential, grayscale — round-4 stretch item)
# ---------------------------------------------------------------------------
from ner_spark.codecs import (  # noqa: E402
    _JPEG_AC_BITS,
    _JPEG_AC_VALS,
    _JPEG_DC_BITS,
    _JPEG_DC_VALS,
    _jpeg_canonical_codes,
    _JpegBitWriter,
    decode_jpeg_gray,
    encode_jpeg_gray,
)


def _jpeg_fixture(entropy: bytes, h: int = 8, w: int = 8,
                  quant: bytes = bytes([1] * 64), sof: int = 0xFFC0,
                  sampling: int = 0x11) -> bytes:
    """Hand-assemble a minimal single-component JPEG per T.81 (SOI, DQT,
    SOF, two DHTs with the Annex K tables, SOS, entropy, EOI) —
    INDEPENDENT of encode_jpeg_gray's segment writer."""
    import struct

    out = bytearray(b"\xff\xd8")
    out += struct.pack(">HH", 0xFFDB, 67) + bytes([0]) + quant
    out += struct.pack(">HH", sof, 11) + struct.pack(">BHHB", 8, h, w, 1)
    out += bytes([1, sampling, 0])
    out += struct.pack(">HH", 0xFFC4, 19 + len(_JPEG_DC_VALS))
    out += bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    out += struct.pack(">HH", 0xFFC4, 19 + len(_JPEG_AC_VALS))
    out += bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    out += struct.pack(">HH", 0xFFDA, 8) + bytes([1, 1, 0x00, 0, 63, 0])
    out += entropy + b"\xff\xd9"
    return bytes(out)


def test_jpeg_spec_fixture_dc_only_block():
    """Hand-built T.81 fixture: all-1 quant table, one 8x8 block whose
    entropy data is DC category 6 with magnitude bits 101000 (EXTEND →
    +40), then EOB. A DC-only block reconstructs flat at
    round(DC * q / 8) + 128 = round(40/8) + 128 = 133 — asserting the
    decoder's Huffman tables, EXTEND, dequantization, IDCT scaling and
    level shift against spec arithmetic, not against our encoder."""
    bw = _JpegBitWriter()
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    code, ln = dc[6]
    bw.put(code, ln)
    bw.put(40, 6)  # magnitude bits for +40 (category 6)
    code, ln = ac[0x00]  # EOB
    bw.put(code, ln)
    bw.flush()
    got = decode_jpeg_gray(_jpeg_fixture(bytes(bw.out)))
    assert np.array_equal(got, np.full((8, 8), 133, np.uint8)), got[0, :4]


def test_jpeg_spec_fixture_negative_dc_and_ac():
    """Second hand fixture: DC category 3 bits 010 (EXTEND → -5), then
    AC run/size 0x01 with bit 1 (+1 at zigzag position 1), EOB. Checks
    the negative-EXTEND branch and AC coefficient placement: expected
    pixels are the IDCT of F(0,0)=-5, F(0,1)=+1 (all-1 quant)."""
    bw = _JpegBitWriter()
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    code, ln = dc[3]
    bw.put(code, ln)
    bw.put(0b010, 3)  # EXTEND(2, 3) = 2 - 7 = -5
    code, ln = ac[0x01]
    bw.put(code, ln)
    bw.put(1, 1)  # +1
    code, ln = ac[0x00]
    bw.put(code, ln)
    bw.flush()
    got = decode_jpeg_gray(_jpeg_fixture(bytes(bw.out)))
    # independent reconstruction from the DCT-III definition:
    # F(0,0) contributes -5/8 everywhere; F(0,1) contributes
    # (1/sqrt(8)) * sqrt(2/8) * cos((2x+1)pi/16) per column x
    n = np.arange(8)
    basis1 = np.sqrt(2 / 8) * np.cos((2 * n + 1) * 1 * np.pi / 16)
    exp = np.clip(np.round(
        -5 / 8 + np.tile(basis1 / np.sqrt(8), (8, 1)) + 128.0), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(got, exp), (got[0], exp[0])


def test_jpeg_flat_roundtrip_exact():
    for v in (0, 67, 128, 255):
        img = np.full((24, 40), v, dtype=np.uint8)
        assert np.array_equal(decode_jpeg_gray(encode_jpeg_gray(img)), img)


def test_jpeg_odd_sizes_and_determinism():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (30, 50), dtype=np.uint8)
    b1, b2 = encode_jpeg_gray(img), encode_jpeg_gray(img)
    assert b1 == b2
    d1, d2 = decode_jpeg_gray(b1), decode_jpeg_gray(b1)
    assert d1.shape == (30, 50)
    assert np.array_equal(d1, d2)


def test_jpeg_gradient_high_psnr():
    y, x = np.mgrid[0:64, 0:48]
    img = ((y * 2 + x * 3) % 256).astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(img, quality=90))
    err = dec.astype(float) - img
    psnr = 10 * np.log10(255**2 / np.mean(err**2))
    assert psnr > 35, psnr


def test_jpeg_progressive_and_variants_raise():
    bw = _JpegBitWriter()
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    code, ln = dc[0]
    bw.put(code, ln)
    bw.flush()
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg_gray(_jpeg_fixture(bytes(bw.out), sof=0xFFC2))
    with pytest.raises(NotImplementedError, match="subsampling"):
        decode_jpeg_gray(_jpeg_fixture(bytes(bw.out), sampling=0x22))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"\x89PNG")


def test_jpeg_skips_app_segments():
    """APPn/COM segments (what real camera files carry before SOF) must
    be skipped by the parser."""
    img = np.full((8, 8), 90, dtype=np.uint8)
    data = encode_jpeg_gray(img)
    # splice an APP0/JFIF header and a COM right after SOI
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe\x00\x07hello"
    spliced = data[:2] + app0 + com + data[2:]
    assert np.array_equal(decode_jpeg_gray(spliced), img)


# ---------------------------------------------------------------------------
# JPEG color (YCbCr, 4:2:0 / 4:4:4) — round-5 additions
# ---------------------------------------------------------------------------
from ner_spark.codecs import (  # noqa: E402
    _JPEG_AC_BITS_C,
    _JPEG_AC_VALS_C,
    _JPEG_DC_BITS_C,
    _JPEG_DC_VALS_C,
    decode_jpeg,
    encode_jpeg,
)


def _jpeg_color_fixture(entropy: bytes, h: int = 16, w: int = 16,
                        samp_y: int = 0x22) -> bytes:
    """Hand-assemble a minimal THREE-component interleaved baseline JPEG
    per T.81 (all-1 luma+chroma quant tables, Annex K.3 luma AND chroma
    Huffman tables, one interleaved scan) — independent of
    encode_jpeg's segment writer."""
    import struct

    q1 = bytes([1] * 64)
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">HH", 0xFFDB, 2 + 2 * 65)
    out += bytes([0]) + q1 + bytes([1]) + q1
    out += struct.pack(">HH", 0xFFC0, 17) + struct.pack(">BHHB", 8, h, w, 3)
    out += bytes([1, samp_y, 0, 2, 0x11, 1, 3, 0x11, 1])
    for tcth, bits, vals in (
        (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
        (0x01, _JPEG_DC_BITS_C, _JPEG_DC_VALS_C),
        (0x11, _JPEG_AC_BITS_C, _JPEG_AC_VALS_C),
    ):
        out += struct.pack(">HH", 0xFFC4, 19 + len(vals))
        out += bytes([tcth]) + bytes(bits) + bytes(vals)
    out += struct.pack(">HH", 0xFFDA, 12)
    out += bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += entropy + b"\xff\xd9"
    return bytes(out)


def _put_dc_only(bw, dc_codes, ac_codes, diff):
    from ner_spark.codecs import _jpeg_category, _jpeg_magnitude

    cat = _jpeg_category(diff)
    code, ln = dc_codes[cat]
    bw.put(code, ln)
    if cat:
        bw.put(_jpeg_magnitude(diff, cat), cat)
    code, ln = ac_codes[0x00]  # EOB
    bw.put(code, ln)


def test_jpeg_color_spec_fixture_flat_420():
    """Hand-built 4:2:0 fixture: one MCU (4 Y + Cb + Cr DC-only blocks,
    all-1 quant). Y DC 40 -> flat luma 133; Cb DC -24 -> 125; Cr DC 80
    -> 138. Expected RGB from the BT.601 inverse (cb-128=-3, cr-128=10):
    (147, 127, 128) everywhere — asserting the interleaved MCU order,
    per-component DC predictors, chroma Huffman tables, upsampling and
    color conversion against spec arithmetic, not our encoder."""
    dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
    bw = _JpegBitWriter()
    _put_dc_only(bw, dc_l, ac_l, 40)   # Y block 1 (diff 40)
    for _ in range(3):                 # Y blocks 2-4 (diff 0)
        _put_dc_only(bw, dc_l, ac_l, 0)
    _put_dc_only(bw, dc_c, ac_c, -24)  # Cb
    _put_dc_only(bw, dc_c, ac_c, 80)   # Cr
    bw.flush()
    got = decode_jpeg(_jpeg_color_fixture(bytes(bw.out)))
    assert got.shape == (16, 16, 3)
    assert np.array_equal(
        got, np.tile(np.array([147, 127, 128], np.uint8), (16, 16, 1))
    ), got[0, 0]


def test_jpeg_color_spec_fixture_y_block_placement():
    """Second 4:2:0 hand fixture: the four Y blocks carry DC diffs
    40/8/8/8 (DC chain -> 40, 48, 56, 64 -> quadrant lumas 133, 134,
    135, 136, ordered left-to-right then top-to-bottom per T.81), chroma
    neutral -> RGB equals luma per quadrant. Asserts Y block placement
    inside the MCU and the differential DC chain."""
    dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
    bw = _JpegBitWriter()
    for diff in (40, 8, 8, 8):
        _put_dc_only(bw, dc_l, ac_l, diff)
    _put_dc_only(bw, dc_c, ac_c, 0)  # Cb neutral
    _put_dc_only(bw, dc_c, ac_c, 0)  # Cr neutral
    bw.flush()
    got = decode_jpeg(_jpeg_color_fixture(bytes(bw.out)))
    for (qy, qx), v in {(0, 0): 133, (0, 1): 134, (1, 0): 135,
                        (1, 1): 136}.items():
        quad = got[qy * 8:(qy + 1) * 8, qx * 8:(qx + 1) * 8]
        assert np.array_equal(quad, np.full((8, 8, 3), v, np.uint8)), (
            (qy, qx), quad[0, 0], v)


def test_jpeg_color_flat_roundtrip_exact():
    for sub in ("420", "444"):
        img = np.full((16, 24, 3), [200, 30, 90], dtype=np.uint8)
        got = decode_jpeg(encode_jpeg(img, quality=90, subsampling=sub))
        assert np.array_equal(got, img), (sub, got[0, 0])


def test_jpeg_color_roundtrip_psnr_and_determinism():
    y, x = np.mgrid[0:40, 0:52]
    img = np.stack(
        [y * 2 + 10, x * 2 + 5, y + x], axis=-1
    ).clip(0, 255).astype(np.uint8)
    for sub in ("420", "422", "444"):
        b1, b2 = encode_jpeg(img, 90, sub), encode_jpeg(img, 90, sub)
        assert b1 == b2
        dec = decode_jpeg(b1)
        assert dec.shape == img.shape
        mse = np.mean((dec.astype(float) - img.astype(float)) ** 2)
        psnr = 10 * np.log10(255**2 / mse)
        assert psnr > 35, (sub, psnr)
    # odd sizes survive the MCU padding round-trip
    odd = img[:37, :45]
    assert decode_jpeg(encode_jpeg(odd, 85)).shape == (37, 45, 3)


def test_jpeg_color_444_beats_420_on_chroma_edges():
    """A sharp chroma edge (constant luma) is exactly what 4:2:0
    averages away: 4:4:4 must reconstruct it with lower error."""
    img = np.zeros((16, 16, 3), np.uint8)
    img[:, :8] = [255, 0, 0]
    img[:, 8:] = [0, 0, 255]
    e420 = np.abs(
        decode_jpeg(encode_jpeg(img, 95, "420")).astype(int) - img
    ).mean()
    e444 = np.abs(
        decode_jpeg(encode_jpeg(img, 95, "444")).astype(int) - img
    ).mean()
    assert e444 < e420, (e444, e420)


def test_jpeg_general_decoder_reads_gray_and_boundaries():
    g = (np.mgrid[0:24, 0:32][0] * 5 % 256).astype(np.uint8)
    data = encode_jpeg_gray(g)
    got = decode_jpeg(data)
    assert got.shape == g.shape
    assert np.array_equal(got, decode_jpeg_gray(data))
    assert encode_jpeg(g) == data  # gray delegation
    with pytest.raises(NotImplementedError, match="sampling"):
        bw = _JpegBitWriter()
        dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
        code, ln = dc_l[0]
        bw.put(code, ln)
        bw.flush()
        decode_jpeg(_jpeg_color_fixture(bytes(bw.out), samp_y=0x33))
    with pytest.raises(NotImplementedError, match="subsampling"):
        encode_jpeg(np.zeros((8, 8, 3), np.uint8), subsampling="411")
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG")


def test_jpeg_restart_intervals_roundtrip_and_markers():
    """DRI/RSTn support (round-5): an encoded stream with a restart
    interval must carry the DRI segment and actual RSTn markers, decode
    IDENTICALLY to the marker-free stream (restart is pure re-framing),
    and reject a stream whose RSTn sequence number is wrong."""
    y, x = np.mgrid[0:24, 0:40]
    img = np.stack([y * 3 + 7, x * 2, y + x], axis=-1).clip(0, 255).astype(
        np.uint8
    )
    plain = encode_jpeg(img, 90, "420")
    rst = encode_jpeg(img, 90, "420", restart_interval=1)
    assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain  # DRI present
    assert b"\xff\xd0" in rst  # at least RST0 in the entropy stream
    assert np.array_equal(decode_jpeg(rst), decode_jpeg(plain))
    # corrupt the first RSTn's sequence number -> decoder must notice
    i = rst.index(b"\xff\xd0")
    bad = rst[:i + 1] + bytes([0xD5]) + rst[i + 2:]
    with pytest.raises(ValueError, match="RST"):
        decode_jpeg(bad)
    # the strict grayscale parser keeps its documented DRI raise
    with pytest.raises(NotImplementedError, match="restart"):
        g = encode_jpeg_gray(img[..., 0])
        spliced = g[:2] + b"\xff\xdd\x00\x04\x00\x02" + g[2:]
        decode_jpeg_gray(spliced)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2) — round 5
# ---------------------------------------------------------------------------
from ner_spark.codecs import (  # noqa: E402
    _jpeg_build_huffman,
    _jpeg_decode_table,
    encode_jpeg_progressive,
)


def _prog_fixture(scans: list[bytes | tuple], h=8, w=8) -> bytes:
    """Hand-assemble a minimal single-component PROGRESSIVE JPEG per
    T.81 (SOI, all-1 DQT, SOF2, K.3 DC/AC DHTs, then one SOS per scan)
    — independent of encode_jpeg_progressive's segment writer. Each
    scan is (Ss, Se, Ah, Al, entropy_bytes)."""
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">HH", 0xFFDB, 67) + bytes([0]) + bytes([1] * 64)
    out += struct.pack(">HH", 0xFFC2, 11) + struct.pack(">BHHB", 8, h, w, 1)
    out += bytes([1, 0x11, 0])
    out += struct.pack(">HH", 0xFFC4, 19 + len(_JPEG_DC_VALS))
    out += bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    out += struct.pack(">HH", 0xFFC4, 19 + len(_JPEG_AC_VALS))
    out += bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    for ss, se, ah, al, entropy in scans:
        out += struct.pack(">HH", 0xFFDA, 8)
        out += bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_spec_fixture_dc_then_ac():
    """Hand-built progressive stream checked against spec arithmetic:
    scan 1 codes DC category 6 bits 101000 (EXTEND -> +40) at Al=0,
    scan 2 codes the empty 1..63 AC band as a single EOB0. Identical
    coefficients to the baseline DC-only fixture, so the same flat
    round(40/8) + 128 = 133 block must come out — proving the
    progressive path's scan sequencing, not our encoder, against T.81."""
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    code, ln = dc[6]
    bw.put(code, ln)
    bw.put(40, 6)
    bw.flush()
    s1 = bytes(bw.out)
    bw = _JpegBitWriter()
    code, ln = ac[0x00]  # EOB0: the whole 1..63 band is zero
    bw.put(code, ln)
    bw.flush()
    s2 = bytes(bw.out)
    got = decode_jpeg(_prog_fixture([(0, 0, 0, 0, s1), (1, 63, 0, 0, s2)]))
    assert np.array_equal(got, np.full((8, 8), 133, np.uint8)), got[0, :4]


def test_jpeg_progressive_spec_fixture_spectral_bands():
    """Split spectral selection: DC scan (-5), band 1..5 carrying +1 at
    zigzag 1, band 6..63 empty. Coefficients equal the baseline
    negative-DC fixture, so the decoder must reproduce the same
    independently-derived IDCT expectation."""
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    code, ln = dc[3]
    bw.put(code, ln)
    bw.put(0b010, 3)  # EXTEND(2, 3) = -5
    bw.flush()
    s_dc = bytes(bw.out)
    bw = _JpegBitWriter()
    code, ln = ac[0x01]  # run 0, size 1 at zigzag position 1
    bw.put(code, ln)
    bw.put(1, 1)  # +1
    code, ln = ac[0x00]  # EOB for the rest of the 1..5 band
    bw.put(code, ln)
    bw.flush()
    s_low = bytes(bw.out)
    bw = _JpegBitWriter()
    code, ln = ac[0x00]
    bw.put(code, ln)
    bw.flush()
    s_high = bytes(bw.out)
    got = decode_jpeg(_prog_fixture(
        [(0, 0, 0, 0, s_dc), (1, 5, 0, 0, s_low), (6, 63, 0, 0, s_high)]
    ))
    n = np.arange(8)
    basis1 = np.sqrt(2 / 8) * np.cos((2 * n + 1) * 1 * np.pi / 16)
    exp = np.clip(np.round(
        -5 / 8 + np.tile(basis1 / np.sqrt(8), (8, 1)) + 128.0), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(got, exp), (got[0], exp[0])


def test_jpeg_progressive_spec_fixture_successive_approximation():
    """Successive approximation on DC: first scan at Al=1 codes the
    point-transformed value 3 (category 2, bits 11 -> +3, contributing
    3 << 1 = 6), the refinement scan at Al=0 is ONE raw bit (1) that
    ORs in the low bit -> DC becomes 7. Expected flat block:
    round(7/8) + 128 = 129. The refinement scan uses no Huffman table
    at all — exactly the raw-bit path G.1.2.1 specifies."""
    dc = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    bw = _JpegBitWriter()
    code, ln = dc[2]
    bw.put(code, ln)
    bw.put(0b11, 2)  # EXTEND(3, 2) = +3
    bw.flush()
    s1 = bytes(bw.out)
    bw = _JpegBitWriter()
    bw.put(1, 1)  # refinement bit for the single block
    bw.flush()
    s2 = bytes(bw.out)
    got = decode_jpeg(_prog_fixture([(0, 0, 0, 1, s1), (0, 0, 1, 0, s2)]))
    assert np.array_equal(got, np.full((8, 8), 129, np.uint8)), got[0, :4]


def test_jpeg_progressive_equals_baseline_decode_exactly():
    """The cross-check that pins BOTH sides: a progressive file carries
    the same quantized coefficients as the baseline file, spread over
    DC/AC first + refinement scans, so decoding each must give
    byte-identical pixels (shared dequant/IDCT tail). Covers gray and
    all three color subsamplings at odd sizes."""
    rng = np.random.default_rng(11)
    g = (np.linspace(0, 255, 37 * 29).reshape(37, 29)
         + rng.integers(0, 40, (37, 29))).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quality=80)),
        decode_jpeg(encode_jpeg_progressive(g, quality=80)),
    )
    c = rng.integers(0, 256, (41, 35, 3)).astype(np.uint8)
    c[:, :, 0] = np.linspace(0, 255, 35)[None, :]
    for sub in ("420", "422", "444"):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(c, quality=75, subsampling=sub)),
            decode_jpeg(encode_jpeg_progressive(c, quality=75, subsampling=sub)),
        ), sub


def test_jpeg_progressive_eob_runs_and_determinism():
    """A sparse image makes the encoder aggregate EOBn runs (> EOB0)
    across blocks; the stream must still decode to exactly the baseline
    pixels, and encoding must be byte-deterministic."""
    s = np.full((64, 64), 128, np.uint8)
    s[10, 12], s[50, 33] = 200, 60
    p1 = encode_jpeg_progressive(s, quality=85)
    p2 = encode_jpeg_progressive(s, quality=85)
    assert p1 == p2
    assert np.array_equal(
        decode_jpeg(p1), decode_jpeg(encode_jpeg(s, quality=85))
    )


def test_jpeg_progressive_randomized_parity_sweep():
    """Randomized sizes/qualities/subsamplings: progressive and baseline
    decodes must agree EXACTLY on every case (the two entropy layouts
    carry identical coefficients)."""
    for t in range(12):
        rng = np.random.default_rng(100 + t)
        hh, ww = int(rng.integers(8, 70)), int(rng.integers(8, 70))
        q = int(rng.integers(30, 96))
        if t % 4 == 0:
            img = rng.integers(0, 256, (hh, ww)).astype(np.uint8)
            a = decode_jpeg(encode_jpeg(img, quality=q))
            b = decode_jpeg(encode_jpeg_progressive(img, quality=q))
        else:
            img = rng.integers(0, 256, (hh, ww, 3)).astype(np.uint8)
            sub = ("420", "422", "444")[t % 3]
            a = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
            b = decode_jpeg(
                encode_jpeg_progressive(img, quality=q, subsampling=sub)
            )
        assert np.array_equal(a, b), (t, hh, ww, q)


def test_jpeg_build_huffman_is_valid_and_invertible():
    """K.2 table builder: for random frequency profiles the produced
    (BITS, HUFFVAL) must satisfy the Kraft inequality STRICTLY (the
    reserved symbol guarantees the all-ones code stays unused), stay
    within 16-bit codes, cover exactly the nonzero-frequency symbols,
    and canonical-encode/decode as inverses."""
    for seed in range(6):
        rng = np.random.default_rng(seed)
        n_sym = int(rng.integers(1, 60))
        freq = [0] * 256
        for s in rng.integers(0, 256, n_sym):
            freq[int(s)] += int(rng.integers(1, 1000))
        bits, vals = _jpeg_build_huffman(freq)
        assert sum(bits) == len(vals) == sum(1 for f in freq if f)
        assert sorted(vals) == [i for i, f in enumerate(freq) if f]
        kraft = sum(n / (1 << (i + 1)) for i, n in enumerate(bits))
        assert kraft < 1.0, kraft
        codes = _jpeg_canonical_codes(bits, vals)
        table = _jpeg_decode_table(bits, vals)
        for sym, (code, ln) in codes.items():
            assert ln <= 16
            assert table[(code, ln)] == sym


def test_jpeg_progressive_strict_gray_parser_still_raises():
    """decode_jpeg_gray remains the strict baseline-only parser: SOF2
    streams keep raising there while the general decoder accepts them."""
    img = np.full((8, 8), 90, np.uint8)
    prog = encode_jpeg_progressive(img)
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg_gray(prog)
    assert decode_jpeg(prog).shape == (8, 8)


def test_jpeg_gray_restart_intervals_roundtrip():
    """Round-5 review fix: encode_jpeg with a 2-D input must HONOR
    restart_interval (it used to drop it silently when delegating) —
    DRI present, RSTn markers in the stream, and the general decoder
    reproduces the marker-free pixels exactly."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    from ner_spark.codecs import encode_jpeg

    plain = encode_jpeg(img, 90)
    rst = encode_jpeg(img, 90, restart_interval=2)
    assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain
    assert b"\xff\xd0" in rst
    assert np.array_equal(decode_jpeg(rst), decode_jpeg(plain))
    # wrong RSTn sequence number must be rejected
    i = rst.index(b"\xff\xd0")
    bad = rst[:i + 1] + bytes([0xD4]) + rst[i + 2:]
    with pytest.raises(ValueError, match="RST"):
        decode_jpeg(bad)


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: any marker may be preceded by extra 0xFF fill
    bytes. Both decoders must skip them (round-5 review fix: they used
    to misparse the fill byte as a zero-length marker)."""
    img = np.full((8, 8), 77, np.uint8)
    data = encode_jpeg_gray(img)
    # splice fill bytes before the DQT marker (right after SOI)
    filled = data[:2] + b"\xff\xff" + data[2:]
    assert np.array_equal(decode_jpeg_gray(filled), decode_jpeg_gray(data))
    assert np.array_equal(decode_jpeg(filled), decode_jpeg(data))
    prog = encode_jpeg_progressive(img)
    pfill = prog[:2] + b"\xff\xff\xff" + prog[2:]
    assert np.array_equal(decode_jpeg(pfill), decode_jpeg(prog))


@pytest.mark.parametrize(
    "decode", [decode_jpeg_gray, decode_jpeg], ids=["gray", "general"]
)
def test_jpeg_truncated_marker_raises_value_error(decode):
    """A stream that ends in a marker's 0xFF prefix, with or without fill
    bytes before it, is malformed input: ValueError, not IndexError."""
    data = encode_jpeg_gray(np.full((8, 8), 77, np.uint8))
    head = data[: data.index(b"\xff\xdb")]  # SOI + any APPn, up to DQT
    for tail in (b"\xff", b"\xff\xff"):
        with pytest.raises(ValueError, match="truncated marker segment"):
            decode(head + tail)
