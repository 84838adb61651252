"""Pure-stdlib codec semantics (operators/codecs): the decoders are
checked against independently-constructed byte streams — hand-applied
PNG scanline filters, hand-padded BMP rows, struct-built WAV chunks —
never against the module's own encoder alone."""

import struct
import zlib

import numpy as np
import pytest

from inform_spark.operators import codecs


def _png_chunks(w, h, color, raw):
    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        codecs.PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _filter_scanline(ftype, line, prev, nch):
    """Apply a PNG filter (encoder side) by hand — the spec's §9
    equations, written independently of the decoder's inverse."""
    out = bytearray([ftype])
    for i in range(len(line)):
        x = int(line[i])
        a = int(line[i - nch]) if i >= nch else 0
        b = int(prev[i])
        c = int(prev[i - nch]) if i >= nch else 0
        if ftype == 0:
            v = x
        elif ftype == 1:
            v = x - a
        elif ftype == 2:
            v = x - b
        elif ftype == 3:
            v = x - ((a + b) >> 1)
        else:  # paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = x - pr
        out.append(v & 0xFF)
    return bytes(out)


def test_png_all_filter_types_roundtrip():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    nch, stride = 3, 4 * 3
    raw = b""
    prev = bytes(stride)
    # one scanline per filter type 0..4 (5 rows)
    for y in range(5):
        line = img[y].tobytes()
        raw += _filter_scanline(y, line, prev, nch)
        prev = line
    decoded = codecs.decode_png(_png_chunks(4, 5, 2, raw))
    assert decoded.shape == (5, 4, 3)
    assert np.array_equal(decoded, img)


def test_png_gray_and_rgba():
    g = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(4))
    d = codecs.decode_png(_png_chunks(4, 4, 0, raw))
    assert np.array_equal(d, g)
    rgba = np.arange(64, dtype=np.uint8).reshape(4, 4, 4)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    d = codecs.decode_png(_png_chunks(4, 4, 6, raw))
    assert np.array_equal(d, rgba)


def test_png_encoder_decoder_roundtrip():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(9, 7, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)


def test_png_rejects_unsupported():
    raw = b"\x00" + bytes(3)
    b = _png_chunks(1, 1, 2, raw)
    # flip depth byte to 16 inside IHDR: offset 8(sig)+8(len/type)+8(w,h)
    bad = bytearray(b)
    bad[24] = 16
    with pytest.raises(ValueError):
        codecs.decode_png(bytes(bad))
    with pytest.raises(ValueError):
        codecs.decode_png(b"not a png at all")


def test_bmp_24bpp_bottom_up_with_padding():
    # 2x2, 24bpp: stride = 2*3=6 -> padded to 8; bottom-up row order.
    # pixels (RGB): top row (255,0,0) (0,255,0); bottom row (0,0,255) (10,20,30)
    top = bytes([0, 0, 255]) + bytes([0, 255, 0])        # BGR on disk
    bottom = bytes([255, 0, 0]) + bytes([30, 20, 10])
    pad = b"\x00\x00"
    pixel_data = bottom + pad + top + pad  # bottom-up
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data),
                      2835, 2835, 0, 0)
    )
    arr = codecs.decode_bmp(header + pixel_data)
    assert arr.shape == (2, 2, 3)
    assert tuple(arr[0, 0]) == (255, 0, 0)
    assert tuple(arr[0, 1]) == (0, 255, 0)
    assert tuple(arr[1, 0]) == (0, 0, 255)
    assert tuple(arr[1, 1]) == (10, 20, 30)


def test_wav_pcm16():
    # 1 channel, 8000 Hz, 4 frames of known samples
    samples = np.array([0, 16384, -16384, 0], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    f = codecs.decode_wav(wav)
    assert f["sample_rate"] == 8000
    assert f["n_channels"] == 1
    assert f["n_frames"] == 4
    assert f["duration_ms"] == 0  # 4 frames @ 8 kHz = 0.5 ms -> floor 0
    expected_rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
    assert f["rms"] == round(expected_rms, 3)
    with pytest.raises(ValueError):
        codecs.decode_wav(b"RIFFxxxxNOPE")


def test_block_mean_resize_and_phash():
    # left half dark, right half bright: phash must set exactly the
    # 4 right columns of every row
    g = np.zeros((16, 16))
    g[:, 8:] = 255.0
    small = codecs.block_mean_resize(g, 8, 8)
    assert small.shape == (8, 8)
    assert small[0, 0] == 0.0 and small[0, 7] == 255.0
    ph = codecs.average_phash(g)
    for i in range(8):
        for j in range(8):
            bit = (ph >> (i * 8 + j)) & 1
            want = 1 if j >= 4 else 0
            if i * 8 + j == 63:
                continue  # top bit masked for signed-long safety
            assert bit == want, (i, j)


def test_image_features_real_vs_stub_dispatch(spark):
    """PNG bytes decode for real (decode_ok='ok', exact luma); unknown
    bytes fall back to the deterministic stub."""
    import pandas as pd

    from inform_spark.operators import multimodal as mm

    img = np.full((4, 4, 3), 100, dtype=np.uint8)
    img[:, :, 1] = 200  # luma = .299*100 + .587*200 + .114*100 = 158.7
    png = codecs.encode_png(img)
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["a.png", "b.jpg"],
            "doc_id": ["1", "1"],
            "kind": ["image", "image"],
            "content": [png, b"\xff\xd8notreallyjpeg"],
            "content_len": [len(png), 14],
            "format": ["png", "jpg"],
        }),
        schema=mm.MEDIA,
    )
    got = {r["media_ref"]: r for r in mm.image_features(media).collect()}
    assert got["a.png"]["decode_ok"] == "ok"
    assert got["a.png"]["width"] == 4 and got["a.png"]["height"] == 4
    assert abs(got["a.png"]["mean_luma"] - 158.7) < 1e-3
    assert got["b.jpg"]["decode_ok"] == "stub"


def test_resize_images_real_thumbnail(spark):
    import pandas as pd

    from inform_spark.operators import multimodal as mm

    img = np.zeros((16, 8, 3), dtype=np.uint8)
    img[:8] = 255  # top half white
    png = codecs.encode_png(img)
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["t.png"], "doc_id": ["1"], "kind": ["image"],
            "content": [png], "content_len": [len(png)], "format": ["png"],
        }),
        schema=mm.MEDIA,
    )
    out = mm.resize_images(media, max_px=4).collect()[0]
    assert out["format"] == "png"
    thumb = codecs.decode_png(bytes(out["content"]))
    assert thumb.shape == (4, 2, 3)  # 16x8 -> fit 4 -> 4x2
    assert thumb[0, 0, 0] == 255 and thumb[3, 0, 0] == 0


def test_audio_features_real_wav(spark):
    import pandas as pd

    from inform_spark.operators import multimodal as mm

    samples = (np.sin(np.linspace(0, 20, 8000)) * 10000).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    # a uint32 rate that decodes but does not fit the int32 column: an
    # 'error' verdict, not a failed task
    huge = wav.replace(fmt, struct.pack("<HHIIHH", 1, 1, 2**31, 0, 2, 16))
    assert codecs.decode_wav(huge)["sample_rate"] == 2**31
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["s.wav", "x.mp3", "huge.wav"],
            "doc_id": ["1", "2", "3"],
            "kind": ["audio"] * 3,
            "content": [wav, b"ID3notdecodable", huge],
            "content_len": [len(wav), 15, len(huge)],
            "format": ["wav", "mp3", "wav"],
        }),
        schema=mm.MEDIA,
    )
    got = {r["media_ref"]: r for r in mm.audio_features(media).collect()}
    assert got["s.wav"]["decode_ok"] == "ok"
    assert got["s.wav"]["sample_rate"] == 8000
    assert got["s.wav"]["duration_ms"] == 1000
    expected_rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
    assert abs(got["s.wav"]["rms"] - expected_rms) < 0.01
    assert got["x.mp3"]["decode_ok"] == "error"
    assert got["x.mp3"]["sample_rate"] is None
    assert got["huge.wav"]["decode_ok"] == "error"
    assert got["huge.wav"]["sample_rate"] is None


# ---------------------------------------------------------------------------
# JPEG baseline decoder (round 5): hand-assembled bitstreams, expected
# pixels computed with an independent direct-cosine IDCT — never the
# decoder's own matrices, never a self-encoder.
# ---------------------------------------------------------------------------

import math
import struct as _struct


class _BitWriter:
    def __init__(self):
        self.bits = []

    def write(self, bitstring):
        self.bits.extend(int(c) for c in bitstring)

    def tobytes(self):
        bits = self.bits + [1] * (-len(self.bits) % 8)  # T.81 1-pad
        out = bytearray()
        for i in range(0, len(bits), 8):
            v = 0
            for b in bits[i : i + 8]:
                v = (v << 1) | b
            out.append(v)
        # byte-stuff: 0xFF in entropy data must be followed by 0x00
        stuffed = bytearray()
        for byte in out:
            stuffed.append(byte)
            if byte == 0xFF:
                stuffed.append(0x00)
        return bytes(stuffed)


def _seg(marker, payload):
    return bytes([0xFF, marker]) + _struct.pack(">H", len(payload) + 2) + payload


def _dqt(tq, table):
    return _seg(0xDB, bytes([tq]) + bytes(table))


def _dht(tc, th, bits16, values):
    return _seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits16) + bytes(values))


def _sof0(h, w, comps):
    p = _struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hv, tq in comps:
        p += bytes([cid, hv, tq])
    return _seg(0xC0, p)


def _sos(comps, ss=0, se=63, ah=0, al=0):
    p = bytes([len(comps)])
    for cid, dc, ac in comps:
        p += bytes([cid, (dc << 4) | ac])
    p += bytes([ss, se, (ah << 4) | al])
    return _seg(0xDA, p)


def _idct_direct(coef):
    """Independent 2-D inverse DCT straight from the T.81 formula —
    nested loops, no matrices shared with the decoder."""
    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            v = 0.0
            for u in range(8):
                for w in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cw = 1 / math.sqrt(2) if w == 0 else 1.0
                    v += (
                        cu * cw * coef[u][w]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * w * math.pi / 16)
                    )
            out[x][y] = v / 4 + 128.0
    return out


def _expected_u8(coef):
    import numpy as np

    sp = _idct_direct(coef)
    return np.clip(np.round(np.array(sp)), 0, 255).astype(np.uint8)


def test_jpeg_flat_gray_block():
    """8x8 grayscale, identity quant, DC diff +3, EOB: every pixel must
    equal the hand-computed IDCT of a DC-only block."""
    from inform_spark.operators import codecs

    bw = _BitWriter()
    bw.write("0")    # DC huff: symbol 2 (category)
    bw.write("11")   # magnitude 3 -> diff +3
    bw.write("0")    # AC huff: EOB
    jpg = (
        b"\xff\xd8"
        + _dqt(0, [1] * 64)
        + _sof0(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])      # DC: "0" -> category 2
        + _dht(1, 0, [1] + [0] * 15, [0x00])   # AC: "0" -> EOB
        + _sos([(1, 0, 0)])
        + bw.tobytes()
        + b"\xff\xd9"
    )
    got = codecs.decode_jpeg(jpg)
    coef = [[0.0] * 8 for _ in range(8)]
    coef[0][0] = 3.0
    assert got.shape == (8, 8)
    assert (got == _expected_u8(coef)).all()


def test_jpeg_ac_coefficient_negative_dc_and_quant():
    """DC category 2 with bits '00' -> EXTEND gives -3; AC (run=1,
    size=1) places +1 at zig-zag k=2 (raster (1,0)); quant table scales
    the DC by 5 and that AC slot by 7. Exercises multi-length Huffman,
    run-length skip, EXTEND's negative branch, and dequantization."""
    from inform_spark.operators import codecs

    q = [1] * 64
    q[0] = 5   # DC
    q[2] = 7   # zig-zag slot 2 == raster (1,0)
    bw = _BitWriter()
    bw.write("0")    # DC: category 2
    bw.write("00")   # EXTEND(0, 2) = -3
    bw.write("10")   # AC: symbol 0x11 (run 1, size 1)
    bw.write("1")    # magnitude 1 -> +1
    bw.write("0")    # EOB
    jpg = (
        b"\xff\xd8"
        + _dqt(0, q)
        + _sof0(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])
        + _dht(1, 0, [1, 1] + [0] * 14, [0x00, 0x11])
        + _sos([(1, 0, 0)])
        + bw.tobytes()
        + b"\xff\xd9"
    )
    got = codecs.decode_jpeg(jpg)
    coef = [[0.0] * 8 for _ in range(8)]
    coef[0][0] = -3.0 * 5
    coef[1][0] = 1.0 * 7
    assert (got == _expected_u8(coef)).all()


def test_jpeg_420_color_mcu():
    """16x16 YCbCr 4:2:0 (4 Y blocks + Cb + Cr in one MCU): Y DC +8 on
    the first block then zero diffs (DC prediction carries), neutral
    chroma -> a uniform gray whose value is the hand-computed
    128 + 8/8 = 129 on every RGB channel."""
    from inform_spark.operators import codecs

    bw = _BitWriter()
    bw.write("10")    # Y1 DC: category 4
    bw.write("1000")  # +8
    bw.write("0")     # EOB
    for _ in range(3):  # Y2..Y4: diff 0, EOB
        bw.write("0")
        bw.write("0")
    for _ in range(2):  # Cb, Cr: diff 0, EOB
        bw.write("0")
        bw.write("0")
    jpg = (
        b"\xff\xd8"
        + _dqt(0, [1] * 64)
        + _sof0(16, 16, [(1, 0x22, 0), (2, 0x11, 0), (3, 0x11, 0)])
        + _dht(0, 0, [1, 1] + [0] * 14, [0, 4])  # "0"->cat 0, "10"->cat 4
        + _dht(1, 0, [1] + [0] * 15, [0x00])
        + _sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)])
        + bw.tobytes()
        + b"\xff\xd9"
    )
    got = codecs.decode_jpeg(jpg)
    assert got.shape == (16, 16, 3)
    assert (got == 129).all()


def test_jpeg_arithmetic_rejected():
    from inform_spark.operators import codecs
    import pytest

    jpg = b"\xff\xd8" + _seg(0xC9, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00")
    with pytest.raises(ValueError, match="SOF marker 0xFFC9"):
        codecs.decode_jpeg(jpg + b"\xff\xd9")


def _sof2(h, w, comps):
    p = _struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hv, tq in comps:
        p += bytes([cid, hv, tq])
    return _seg(0xC2, p)


def test_jpeg_progressive_dc_successive_approximation():
    """Two DC scans: first pass at Al=1 (diff +1 -> coefficient 2),
    then a refinement bit completing it to 3 — must equal the baseline
    flat block with DC 3."""
    from inform_spark.operators import codecs

    s1 = _BitWriter()
    s1.write("0")   # DC huff: category 1
    s1.write("1")   # magnitude -> diff +1
    s2 = _BitWriter()
    s2.write("1")   # DC refinement bit
    jpg = (
        b"\xff\xd8"
        + _dqt(0, [1] * 64)
        + _sof2(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [1])       # "0" -> category 1
        + _sos([(1, 0, 0)], ss=0, se=0, ah=0, al=1)
        + s1.tobytes()
        + _sos([(1, 0, 0)], ss=0, se=0, ah=1, al=0)
        + s2.tobytes()
        + b"\xff\xd9"
    )
    got = codecs.decode_jpeg(jpg)
    coef = [[0.0] * 8 for _ in range(8)]
    coef[0][0] = 3.0
    assert (got == _expected_u8(coef)).all()


def test_jpeg_progressive_ac_first_and_refine():
    """DC scan, then an AC band scan at Al=1 placing zig-zag k=2, then
    an AC refinement inserting k=1 and emitting a correction bit that
    completes k=2 — exercising EOB runs and the correction-bit
    traversal."""
    from inform_spark.operators import codecs

    s1 = _BitWriter()
    s1.write("0")    # DC category 2
    s1.write("11")   # diff +3
    s2 = _BitWriter()
    s2.write("10")   # AC symbol 0x11 (run 1, size 1)
    s2.write("1")    # magnitude +1 -> zz[2] = 1 << 1 = 2
    s2.write("0")    # EOB0
    s3 = _BitWriter()
    s3.write("10")   # AC symbol 0x01 (run 0, size 1): new coefficient
    s3.write("1")    # sign + -> zz[1] = +1
    s3.write("0")    # EOB0 (eobrun covers the rest of this block)
    s3.write("1")    # correction bit for zz[2]: 2 -> 3
    jpg = (
        b"\xff\xd8"
        + _dqt(0, [1] * 64)
        + _sof2(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])
        + _sos([(1, 0, 0)], ss=0, se=0, ah=0, al=0)
        + s1.tobytes()
        + _dht(1, 0, [1, 1] + [0] * 14, [0x00, 0x11])
        + _sos([(1, 0, 0)], ss=1, se=5, ah=0, al=1)
        + s2.tobytes()
        + _dht(1, 0, [1, 1] + [0] * 14, [0x00, 0x01])
        + _sos([(1, 0, 0)], ss=1, se=5, ah=1, al=0)
        + s3.tobytes()
        + b"\xff\xd9"
    )
    got = codecs.decode_jpeg(jpg)
    coef = [[0.0] * 8 for _ in range(8)]
    coef[0][0] = 3.0
    coef[0][1] = 1.0  # zig-zag 1 -> raster (0, 1)
    coef[1][0] = 3.0  # zig-zag 2 -> raster (1, 0), refined 2 -> 3
    assert (got == _expected_u8(coef)).all()


@pytest.mark.parametrize("comps,match", [
    ([], "component count 0"),
    ([(i, 0x11, 0) for i in range(1, 6)], "component count 5"),
    ([(1, 0x01, 0)], "sampling factors 0x01"),
    ([(1, 0x15, 0)], "sampling factors 0x15"),
])
def test_jpeg_bad_sof_rejected(comps, match):
    """T.81 allows 1..4 components with sampling factors 1..4; anything
    else is rejected right after the SOF, before a factor of 0 can
    divide by zero sizing the MCU grid."""
    from inform_spark.operators import codecs

    jpg = b"\xff\xd8" + _dqt(0, [1] * 64) + _sof0(8, 8, comps) + b"\xff\xd9"
    with pytest.raises(ValueError, match=match):
        codecs.decode_jpeg(jpg)


def test_jpeg_not_a_jpeg_rejected():
    from inform_spark.operators import codecs
    import pytest

    with pytest.raises(ValueError, match="not a JPEG"):
        codecs.decode_jpeg(b"\x89PNG\r\n\x1a\nxxxx")


def test_image_features_jpeg_real_decode_dispatch(spark):
    """Hand-assembled baseline AND progressive JPEGs decode for REAL
    through the mapInPandas feature extractor; an arithmetic-coded SOF
    (recognized container, genuinely unsupported profile) falls back to
    the stub verdict instead of failing the batch."""
    import pandas as pd

    from inform_spark.operators import multimodal as mm

    bw = _BitWriter()
    bw.write("0")    # DC category 2
    bw.write("11")   # +3
    bw.write("0")    # EOB
    jpg = (
        b"\xff\xd8"
        + _dqt(0, [1] * 64)
        + _sof0(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])
        + _dht(1, 0, [1] + [0] * 15, [0x00])
        + _sos([(1, 0, 0)])
        + bw.tobytes()
        + b"\xff\xd9"
    )
    p1 = _BitWriter()
    p1.write("0")
    p1.write("11")
    prog = (
        b"\xff\xd8"
        + _dqt(0, [1] * 64)
        + _sof2(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])
        + _sos([(1, 0, 0)], ss=0, se=0, ah=0, al=0)
        + p1.tobytes()
        + b"\xff\xd9"
    )
    arith = b"\xff\xd8" + _seg(
        0xC9, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    ) + b"\xff\xd9"
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["real.jpg", "prog.jpg", "arith.jpg"],
            "doc_id": ["1", "1", "1"],
            "kind": ["image", "image", "image"],
            "content": [jpg, prog, arith],
            "content_len": [len(jpg), len(prog), len(arith)],
            "format": ["jpg", "jpg", "jpg"],
        }),
        schema=mm.MEDIA,
    )
    got = {r["media_ref"]: r for r in mm.image_features(media).collect()}
    assert got["real.jpg"]["decode_ok"] == "ok"
    assert got["real.jpg"]["width"] == 8 and got["real.jpg"]["height"] == 8
    # DC-only block: every pixel 128.375 -> rounds to 128 exactly
    assert abs(got["real.jpg"]["mean_luma"] - 128.0) < 1e-9
    assert got["prog.jpg"]["decode_ok"] == "ok"
    assert abs(got["prog.jpg"]["mean_luma"] - 128.0) < 1e-9
    assert got["arith.jpg"]["decode_ok"] == "stub"


# ---------------------------------------------------------------------------
# GIF decoder (round 5): hand-packed LZW code streams, never a
# self-encoder.
# ---------------------------------------------------------------------------


class _LsbWriter:
    """LSB-first variable-width code packer (GIF Appendix F framing),
    built in the test so the decoder is checked against an independent
    construction of the bitstream."""

    def __init__(self):
        self.bits = []

    def code(self, value, width):
        for i in range(width):
            self.bits.append((value >> i) & 1)

    def tobytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            v = 0
            for j, b in enumerate(self.bits[i : i + 8]):
                v |= b << j
            out.append(v)
        return bytes(out)


def _gif(w, h, palette, lzw_min, lzw_bytes, iflags=0):
    gct_bits = max((len(palette) - 1).bit_length(), 1) - 1
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += b"\x00" * (3 * ((2 << gct_bits) - len(palette)))
    hdr = b"GIF89a" + _struct.pack("<HHBBB", w, h, 0x80 | gct_bits, 0, 0)
    img = b"\x2c" + _struct.pack("<HHHHB", 0, 0, w, h, iflags)
    data = bytes([lzw_min])
    for i in range(0, len(lzw_bytes), 255):
        chunk = lzw_bytes[i : i + 255]
        data += bytes([len(chunk)]) + chunk
    data += b"\x00"
    return hdr + bytes(pal) + img + data + b"\x3b"


def test_gif_basic_lzw():
    """4x1, 2-color: codes CLEAR,0,1,0,1,END hand-packed at width 3
    (min code size 2) must decode to the exact palette colors."""
    from inform_spark.operators import codecs

    wtr = _LsbWriter()
    # clear=4, end=5 at min_code_size=2; the dictionary reaches 8
    # entries after the 3rd pixel code, so the last two codes are
    # 4 bits wide (GIF early width bump)
    for c, w in ((4, 3), (0, 3), (1, 3), (0, 3), (1, 4), (5, 4)):
        wtr.code(c, w)
    gif = _gif(
        4, 1, [(0, 0, 0), (255, 255, 255)], 2, wtr.tobytes()
    )
    got = codecs.decode_gif(gif)
    assert got.shape == (1, 4, 3)
    assert got[0, 0].tolist() == [0, 0, 0]
    assert got[0, 1].tolist() == [255, 255, 255]
    assert got[0, 2].tolist() == [0, 0, 0]
    assert got[0, 3].tolist() == [255, 255, 255]


def test_gif_lzw_dictionary_growth_and_kwkwk():
    """The deferred-code (KwKwK) case: stream CLEAR,0,6,END where code 6
    is exactly the next dictionary slot -> prev + prev[0] = [0,0]; the
    3-pixel row must decode to three palette-0 pixels."""
    from inform_spark.operators import codecs

    wtr = _LsbWriter()
    for c in (4, 0, 6, 5):
        wtr.code(c, 3)
    gif = _gif(3, 1, [(10, 20, 30), (0, 0, 0)], 2, wtr.tobytes())
    got = codecs.decode_gif(gif)
    assert got.shape == (1, 3, 3)
    assert (got == [10, 20, 30]).all()


def test_gif_interlaced_row_order():
    """8x8 interlaced: rows are STORED in pass order 0,8.. / 4 / 2,6 /
    1,3,5,7; paint stored-row r with palette index (r % 2) and check the
    deinterlaced output hits the spec's row mapping."""
    from inform_spark.operators import codecs

    # stored rows (pass order) for height 8: [0,4,2,6,1,3,5,7]
    order = [0, 4, 2, 6, 1, 3, 5, 7]
    # pack one literal code per pixel, mirroring the GIF width-bump
    # rule (dictionary grows by one per code after the first; width
    # bumps when the dictionary reaches 2^width entries)
    wtr2 = _LsbWriter()
    wtr2.code(4, 3)
    width, ncodes, first = 3, 6, True
    for stored_idx in range(8):
        for _ in range(8):
            wtr2.code(stored_idx % 2, width)
            if first:
                first = False
                continue
            ncodes += 1
            if ncodes == (1 << width) and width < 12:
                width += 1
    wtr2.code(5, width)  # END
    gif = _gif(
        8, 8, [(0, 0, 0), (255, 255, 255)], 2, wtr2.tobytes(), iflags=0x40
    )
    got = codecs.decode_gif(gif)
    assert got.shape == (8, 8, 3)
    for stored_idx, display_row in enumerate(order):
        want = 255 if stored_idx % 2 else 0
        assert (got[display_row] == want).all(), (stored_idx, display_row)


def test_gif_frame_past_logical_screen_is_clipped():
    """A 4x1 frame on a 2x1 logical screen decodes to the screen's size,
    keeping the frame's first 2 pixels."""
    wtr = _LsbWriter()
    for c, w in ((4, 3), (0, 3), (1, 3), (0, 3), (1, 4), (5, 4)):
        wtr.code(c, w)
    gif = bytearray(_gif(4, 1, [(0, 0, 0), (255, 255, 255)], 2, wtr.tobytes()))
    gif[6:8] = _struct.pack("<H", 2)  # logical screen width 4 -> 2
    got = codecs.decode_gif(bytes(gif))
    assert got.shape == (1, 2, 3)
    assert got[0].tolist() == [[0, 0, 0], [255, 255, 255]]


def test_gif_not_a_gif_rejected():
    from inform_spark.operators import codecs
    import pytest

    with pytest.raises(ValueError, match="not a GIF"):
        codecs.decode_gif(b"NOTAGIFxxxxxxxxxx")


def test_gif_lzw_kwkwk_chain_stops_at_frame_size():
    """A crafted KwKwK chain (every code is the next free slot, so each
    entry is one pixel longer than the last) up to the full 4096-entry
    table: ~6 KB of codes that would expand to ~8.4 M indices. The
    decoder must return as soon as the 16x16 frame is full."""
    import time

    from inform_spark.operators import codecs

    wtr = _LsbWriter()
    wtr.code(4, 3)  # CLEAR at min code size 2
    wtr.code(0, 3)
    for slot in range(6, 4096):
        wtr.code(slot, max(3, slot.bit_length()))
    data = wtr.tobytes()
    assert len(data) > 5_000
    t = time.perf_counter()
    idx = codecs._lzw_decode(2, data, 16 * 16)
    got = codecs.decode_gif(_gif(16, 16, [(9, 9, 9), (0, 0, 0)], 2, data))
    assert time.perf_counter() - t < 1.0
    assert idx == [0] * 256
    assert got.shape == (16, 16, 3) and (got == 9).all()


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF box parser (round 5): hand-assembled boxes.
# ---------------------------------------------------------------------------


def _box(typ, payload):
    return _struct.pack(">I", len(payload) + 8) + typ + payload


def _full(typ, version, payload):
    return _box(typ, bytes([version, 0, 0, 0]) + payload)


def _make_mp4(movie_ts=1000, movie_dur=12_000, tracks=()):
    mvhd = _full(
        b"mvhd", 0,
        _struct.pack(">II", 0, 0)       # ctime, mtime
        + _struct.pack(">II", movie_ts, movie_dur)
        + b"\x00" * 80,
    )
    trak_boxes = b""
    for t in tracks:
        tkhd = _full(
            b"tkhd", 0,
            _struct.pack(">III", 0, 0, t.get("track_id", 1))
            + b"\x00" * 4                 # reserved
            + _struct.pack(">I", t.get("dur", 0))
            + b"\x00" * 8                 # reserved
            + b"\x00" * 8                 # layer/alt/volume/reserved
            + b"\x00" * 36                # matrix
            + _struct.pack(
                ">II", t.get("w", 0) << 16, t.get("h", 0) << 16
            ),
        )
        mdhd = _full(
            b"mdhd", 0,
            _struct.pack(">II", 0, 0)
            + _struct.pack(">II", t["ts"], t["dur"])
            + _struct.pack(">HH", 0, 0),
        )
        hdlr = _full(
            b"hdlr", 0, b"\x00" * 4 + t["handler"] + b"\x00" * 13
        )
        stsd = _full(
            b"stsd", 0,
            _struct.pack(">I", 1)
            + _struct.pack(">I", 16) + t["codec"] + b"\x00" * 8,
        )
        stsz = _full(
            b"stsz", 0, _struct.pack(">II", 0, t.get("samples", 0))
        )
        stbl = _box(b"stbl", stsd + stsz)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak_boxes += _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak_boxes)
    ftyp = _box(b"ftyp", b"isom" + _struct.pack(">I", 0x200) + b"isommp41")
    return ftyp + moov


def test_mp4_parse_two_tracks():
    from inform_spark.operators import codecs

    b = _make_mp4(
        movie_ts=600, movie_dur=6_000,  # 10 s
        tracks=(
            {"handler": b"vide", "codec": b"avc1", "ts": 30_000,
             "dur": 300_000, "w": 1920, "h": 1080, "samples": 300},
            {"handler": b"soun", "codec": b"mp4a", "ts": 48_000,
             "dur": 480_000, "samples": 469},
        ),
    )
    m = codecs.parse_mp4(b)
    assert m["major_brand"] == "isom"
    assert m["duration_ms"] == 10_000
    assert len(m["tracks"]) == 2
    vid, aud = m["tracks"]
    assert vid["kind"] == "video" and vid["codec"] == "avc1"
    assert (vid["width"], vid["height"]) == (1920, 1080)
    assert vid["duration_ms"] == 10_000 and vid["sample_count"] == 300
    assert aud["kind"] == "audio" and aud["codec"] == "mp4a"
    assert aud["sample_count"] == 469


def test_mp4_not_bmff_rejected():
    from inform_spark.operators import codecs
    import pytest

    with pytest.raises(ValueError, match="not an ISO BMFF"):
        codecs.parse_mp4(b"\x00" * 32)
    with pytest.raises(ValueError, match="no moov"):
        codecs.parse_mp4(_box(b"ftyp", b"isom\x00\x00\x02\x00"))


def test_video_metadata_operator(spark):
    import pandas as pd

    from inform_spark.operators import multimodal as mm

    good = _make_mp4(
        movie_ts=1000, movie_dur=5_000,
        tracks=({"handler": b"vide", "codec": b"av01", "ts": 24_000,
                 "dur": 120_000, "w": 640, "h": 360, "samples": 120},),
    )
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["v.mp4", "junk.mp4"],
            "doc_id": ["1", "2"],
            "kind": ["video", "video"],
            "content": [good, b"\xde\xad\xbe\xef" * 8],
            "content_len": [len(good), 32],
            "format": ["mp4", "mp4"],
        }),
        schema=mm.MEDIA,
    )
    got = {r["media_ref"]: r for r in mm.video_metadata(media).collect()}
    assert got["v.mp4"]["parse_ok"] == "ok"
    assert got["v.mp4"]["video_codec"] == "av01"
    assert got["v.mp4"]["width"] == 640 and got["v.mp4"]["height"] == 360
    assert got["v.mp4"]["duration_ms"] == 5000
    assert got["junk.mp4"]["parse_ok"] == "error"
    assert got["junk.mp4"]["video_codec"] is None


# ---------------------------------------------------------------------------
# Hostile-bytes fuzz smoke (round 5): a crawler feeds codecs arbitrary
# web bytes; every decoder must TERMINATE (return or raise) on
# truncations and seeded single-byte corruptions of valid streams —
# image_features/video_metadata catch the raise and verdict 'error',
# so termination is the load-bearing property.
# ---------------------------------------------------------------------------


def _valid_fixtures():
    img = np.full((8, 8, 3), 77, dtype=np.uint8)
    png = codecs.encode_png(img)
    bw = _BitWriter()
    bw.write("0")
    bw.write("11")
    bw.write("0")
    jpg = (
        b"\xff\xd8" + _dqt(0, [1] * 64) + _sof0(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])
        + _dht(1, 0, [1] + [0] * 15, [0x00])
        + _sos([(1, 0, 0)]) + bw.tobytes() + b"\xff\xd9"
    )
    wtr = _LsbWriter()
    for c, w in ((4, 3), (0, 3), (1, 3), (0, 3), (1, 4), (5, 4)):
        wtr.code(c, w)
    gif = _gif(4, 1, [(0, 0, 0), (255, 255, 255)], 2, wtr.tobytes())
    mp4 = _make_mp4(
        tracks=({"handler": b"vide", "codec": b"avc1", "ts": 1000,
                 "dur": 5000, "w": 64, "h": 64, "samples": 5},),
    )
    p1 = _BitWriter()
    p1.write("0")
    p1.write("11")
    p2 = _BitWriter()
    p2.write("10")
    p2.write("1")
    p2.write("0")
    prog = (
        b"\xff\xd8" + _dqt(0, [1] * 64) + _sof2(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, [1] + [0] * 15, [2])
        + _sos([(1, 0, 0)], ss=0, se=0, ah=0, al=1)
        + p1.tobytes()
        + _dht(1, 0, [1, 1] + [0] * 14, [0x00, 0x11])
        + _sos([(1, 0, 0)], ss=1, se=5, ah=0, al=1)
        + p2.tobytes()
        + b"\xff\xd9"
    )
    px = bytes([0, 0, 255, 0, 255, 0, 0, 0]) + bytes([255, 0, 0, 30, 20, 10, 0, 0])
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 2835, 2835, 0, 0)
        + px
    )
    pcm = np.array([0, 16384, -16384, 0, 77, -77], dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    riff = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff += b"data" + struct.pack("<I", len(pcm)) + pcm
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    return {
        "png": (png, codecs.decode_png),
        "bmp": (bmp, codecs.decode_bmp),
        "wav": (wav, codecs.decode_wav),
        "jpeg": (jpg, codecs.decode_jpeg),
        "jpeg-prog": (prog, codecs.decode_jpeg),
        "gif": (gif, codecs.decode_gif),
        "mp4": (mp4, codecs.parse_mp4),
    }


def test_codecs_terminate_on_truncation():
    for name, (valid, dec) in _valid_fixtures().items():
        for cut in range(0, len(valid), max(1, len(valid) // 40)):
            try:
                dec(valid[:cut])
            except Exception:
                pass  # raising is fine; hanging or segfaulting is not


def test_codecs_terminate_on_byte_corruption():
    import zlib as _zlib

    for name, (valid, dec) in _valid_fixtures().items():
        for i in range(120):
            # deterministic position/value from a crc — no RNG
            h = _zlib.crc32(f"{name}-{i}".encode())
            pos = h % len(valid)
            mut = bytearray(valid)
            mut[pos] ^= 1 + (h >> 8) % 255
            try:
                dec(bytes(mut))
            except Exception:
                pass


# ---------------------------------------------------------------------------
# The one pixel budget (codecs.check_pixels): a claimed size is judged
# before anything is allocated, so a few KB of hostile bytes cannot
# make a decoder hold hundreds of MB.
# ---------------------------------------------------------------------------


def _peak_mb_raising(decode, data):
    import tracemalloc

    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            decode(data)
        return tracemalloc.get_traced_memory()[1] / 2**20
    finally:
        tracemalloc.stop()


def test_png_idat_inflate_bounded_by_frame_size():
    """A 16x16 RGB IHDR over ~65 KB of IDAT that inflates to 64 MB: the
    inflate stops one byte past the frame's 16*(48+1) bytes."""
    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    idat = zlib.compress(b"\0" * (64 << 20), 9)
    png = (
        codecs.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    assert len(png) < 100_000
    assert _peak_mb_raising(codecs.decode_png, png) < 16


def test_gif_frame_descriptor_checked_against_pixel_budget():
    """A 1x1 screen whose frame descriptor claims 65535x65535, over the
    KwKwK chain plus 1,500 full-table codes (~7.9 KB that would expand
    to ~14 M indices): rejected at the descriptor."""
    wtr = _LsbWriter()
    wtr.code(4, 3)  # CLEAR at min code size 2
    wtr.code(0, 3)
    for slot in range(6, 4096):
        wtr.code(slot, max(3, slot.bit_length()))
    for _ in range(1500):
        wtr.code(4095, 12)
    lzw = wtr.tobytes()
    data = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    gif = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x80, 0, 0)
        + bytes([9, 9, 9, 0, 0, 0])
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
        + b"\x02" + data + b"\x00\x3b"
    )
    assert 7_500 < len(gif) < 8_500
    assert _peak_mb_raising(codecs.decode_gif, gif) < 16


def test_resize_images_truncated_png_takes_the_stub_path(spark):
    """A PNG whose IDAT is cut short used to fail the task with
    zlib.error; it now gets the truncation stub, format unchanged."""
    import pandas as pd

    from inform_spark.operators import multimodal as mm

    png = codecs.encode_png(np.full((16, 8, 3), 200, dtype=np.uint8))
    cut = png[:-20]  # drops IEND and the tail of the IDAT stream
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["ok.png", "cut.png"], "doc_id": ["1", "1"],
            "kind": ["image", "image"], "content": [png, cut],
            "content_len": [len(png), len(cut)], "format": ["png", "png"],
        }),
        schema=mm.MEDIA,
    )
    got = {r["media_ref"]: r for r in mm.resize_images(media, max_px=4).collect()}
    assert codecs.decode_png(bytes(got["ok.png"]["content"])).shape == (4, 2, 3)
    assert bytes(got["cut.png"]["content"]) == cut[:16]
    assert got["cut.png"]["format"] == "png"
    assert got["cut.png"]["content_len"] == 16
