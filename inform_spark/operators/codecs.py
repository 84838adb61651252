"""Pure-stdlib media codecs: PNG, BMP, WAV, baseline JPEG — no
PIL/ffmpeg required.

The sandbox has no imaging/audio libraries and no network route to any
package index (re-verified every round in BASELINE.md), but the most
common container formats are decodable with nothing beyond ``struct``
+ ``zlib`` + ``math`` + numpy:

- **PNG** (ISO/IEC 15948): 8-bit gray/gray+alpha/RGB/RGBA,
  non-interlaced — IHDR parse, zlib-inflate of IDAT, scanline filter
  reconstruction (types 0-4 incl. Paeth, per the spec §9).
- **BMP** (BITMAPINFOHEADER): 24/32-bpp uncompressed, bottom-up or
  top-down, 4-byte row padding.
- **WAV** (RIFF): PCM 16-bit fmt/data chunk walk.
- **JPEG** (ITU-T T.81, Huffman, 8-bit, round 5): BASELINE sequential
  (SOF0/SOF1) and PROGRESSIVE (SOF2 — spectral selection + successive
  approximation with EOB runs and AC-refinement correction bits).
  Marker walk, canonical Huffman with byte-unstuffing + restart
  markers, per-component coefficient planes filled scan by scan,
  dequantize/de-zigzag, orthonormal 8x8 inverse DCT, 4:2:0/4:2:2
  chroma upsampling, BT.601 YCbCr→RGB. Arithmetic coding (SOF9+)
  raises ValueError — the dispatch routes it to the stub.

These are REAL decoders — byte-exact against the public specs, tested
with hand-filtered scanlines, hand-padded rows, and hand-assembled
JPEG bitstreams whose expected pixels come from an independent
direct-cosine IDCT (never a self-encoder) — so the multimodal
pipeline's decode path covers the dominant web image formats.
GIF (LZW, interlace) decodes for real too, MP4/ISO-BMFF
container METADATA parses for real (``parse_mp4``), and LOSSLESS WebP
decodes for real (``operators/vp8l.py``); lossy-VP8 WebP and
compressed-codec FRAME decode stay behind the deterministic stub
until a real codec library exists in the environment (the
one-function seam in operators/multimodal.py is unchanged). All
decoders are fuzz-smoked: truncations and byte corruptions of valid
streams must terminate (raise), never hang — crawlers feed these
hostile bytes.

One pixel budget bounds every image decoder: :func:`check_pixels`
rejects a claimed size above :data:`MAX_PIXELS` (~67 MP) before any
pixel or coefficient buffer is allocated — PNG (from IHDR, before the
inflate), BMP, GIF (the screen and every frame descriptor), JPEG (SOF)
and VP8L. PNG inflates with an output limit of the frame's
``h*(stride+1)`` bytes plus one, so a small IDAT that expands to far
more than its IHDR claims is rejected without ever being held whole.

Perf note: PNG filter reconstruction for types 1/3/4 and the JPEG
entropy decode are per-symbol Python loops (both recurrences are
sequential by construction); everything else is vectorized. Fine for
thumbnails and fixtures; a production deployment would swap
PIL/turbojpeg into the same seam for hot-path decoding.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

# ~67 MP: a corrupt header claiming 65535x65535 would otherwise allocate
# tens of GB before any pixel decodes
MAX_PIXELS = 1 << 26


def check_pixels(w: int, h: int) -> None:
    """The one decode budget: raise before allocating a ``w`` x ``h``
    image that exceeds :data:`MAX_PIXELS`."""
    if w * h > MAX_PIXELS:
        raise ValueError(f"image {w}x{h} exceeds the decode cap")


def is_png(b: bytes) -> bool:
    return len(b) > 8 and b[:8] == PNG_SIG


def is_bmp(b: bytes) -> bool:
    return len(b) > 26 and b[:2] == b"BM"


def is_wav(b: bytes) -> bool:
    return len(b) > 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"


def decode_png(b: bytes) -> np.ndarray:
    """PNG -> (h, w, channels) uint8 array. Supports 8-bit depth, color
    types 0/2/4/6, non-interlaced. Raises ValueError on anything else."""
    if not is_png(b):
        raise ValueError("not a PNG")
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(b):
        ln, typ = struct.unpack(">I4s", b[pos : pos + 8])
        pos += 8
        data = b[pos : pos + ln]
        pos += ln + 4  # payload + CRC
        if typ == b"IHDR":
            meta = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if meta is None:
        raise ValueError("missing IHDR")
    w, h, depth, color, comp, filt, interlace = meta
    if depth != 8 or interlace != 0 or comp != 0 or color not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG variant (depth={depth} color={color} "
            f"interlace={interlace})"
        )
    check_pixels(w, h)
    nch = _PNG_CHANNELS[color]
    stride = w * nch
    size = h * (stride + 1)
    inflate = zlib.decompressobj()
    raw = inflate.decompress(b"".join(idat), size + 1)
    if len(raw) != size or not inflate.eof:
        raise ValueError("IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 0:
            pass
        elif f == 2:  # Up — vectorizable (no intra-row recurrence)
            line = bytearray(
                (np.frombuffer(bytes(line), np.uint8) + prev).astype(np.uint8)
                .tobytes()
            )
        elif f == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth (spec §9.4)
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                up = int(prev[i])
                c = int(prev[i - nch]) if i >= nch else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = up
                else:
                    pr = c
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter type {f}")
        out[y] = np.frombuffer(bytes(line), np.uint8)
        prev = out[y]
    return out.reshape(h, w, nch)


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG bytes (filter 0, one IDAT)."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_bmp(b: bytes) -> np.ndarray:
    """BMP -> (h, w, 3) uint8 RGB. 24/32-bpp uncompressed
    BITMAPINFOHEADER, bottom-up (h > 0) or top-down (h < 0)."""
    if not is_bmp(b):
        raise ValueError("not a BMP")
    data_off = struct.unpack("<I", b[10:14])[0]
    w, h_signed = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    compression = struct.unpack("<I", b[30:34])[0]
    if bpp not in (24, 32) or compression != 0 or w <= 0:
        raise ValueError(f"unsupported BMP (bpp={bpp} comp={compression})")
    flip = h_signed > 0
    h = abs(h_signed)
    check_pixels(w, h)
    nb = bpp // 8
    stride = ((w * nb + 3) // 4) * 4
    if data_off + stride * h > len(b):
        raise ValueError("truncated BMP")
    out = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        row = np.frombuffer(
            b[data_off + y * stride : data_off + y * stride + w * nb],
            np.uint8,
        ).reshape(w, nb)
        out[h - 1 - y if flip else y] = row[:, [2, 1, 0]]  # BGR -> RGB
    return out


def decode_wav(b: bytes) -> dict:
    """WAV -> {sample_rate, n_channels, n_frames, duration_ms, rms}
    for PCM 16-bit (format tag 1)."""
    if not is_wav(b):
        raise ValueError("not a WAV")
    pos = 12
    fmt = None
    frames = None
    while pos + 8 <= len(b):
        cid, ln = struct.unpack("<4sI", b[pos : pos + 8])
        pos += 8
        payload = b[pos : pos + ln]
        pos += ln + (ln & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            tag, nch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", payload[:16]
            )
            if tag != 1 or bits != 16:
                raise ValueError(f"unsupported WAV (tag={tag} bits={bits})")
            fmt = (nch, rate)
        elif cid == b"data":
            frames = np.frombuffer(
                payload[: len(payload) // 2 * 2], dtype="<i2"
            )
    if fmt is None or frames is None:
        raise ValueError("missing fmt/data chunk")
    nch, rate = fmt
    n_frames = len(frames) // nch
    rms = float(np.sqrt(np.mean(frames.astype(np.float64) ** 2))) if len(frames) else 0.0
    return {
        "sample_rate": rate,
        "n_channels": nch,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // rate if rate else 0,
        "rms": round(rms, 3),
    }


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81 baseline sequential DCT, Huffman)
# ---------------------------------------------------------------------------

JPEG_SIG = b"\xff\xd8\xff"

# zig-zag index order (T.81 Figure 5): position k of the entropy-coded
# coefficient stream lands at raster index _ZIGZAG[k] of the 8x8 block
_ZIGZAG = np.array(
    [
        0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II basis: _DCT_C[u, x] = c(u)/2 * cos((2x+1)u pi/16)
_DCT_C = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def is_jpeg(b: bytes) -> bool:
    return len(b) > 3 and b[:3] == JPEG_SIG


def _build_huffman(bits: list[int], values: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman table: {(code_length, code): symbol}.
    Codes of each length are assigned consecutively, left-shifted when
    moving to the next length (T.81 Annex C)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[idx]
            idx += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data with 0xFF00
    byte-unstuffing; restart markers (FFD0-FFD7) are surfaced to the
    caller via ``at_marker`` and consumed with ``skip_marker``."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.d):
                # T.81 F.2.2.5: pad with 1-bits at the end of the stream
                self.buf = (self.buf << 8) | 0xFF
                self.nbits += 8
                continue
            byte = self.d[self.pos]
            if byte == 0xFF:
                nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # any marker ends the scan's entropy data (next SOS /
                    # DHT / EOI / RST...): stop filling, pad with 1-bits;
                    # the caller resumes the marker walk at self.pos
                    self.buf = (self.buf << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.buf = (self.buf << 8) | byte
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def at_marker(self) -> bool:
        return (
            self.pos + 1 < len(self.d)
            and self.d[self.pos] == 0xFF
            and 0xD0 <= self.d[self.pos + 1] <= 0xD7
        )

    def skip_marker(self) -> None:
        self.pos += 2
        self.buf = 0
        self.nbits = 0


def _decode_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t received magnitude bits to the
    signed coefficient value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _ac_first(br, table, zz, Ss, Se, Al, eobrun) -> int:
    """Progressive AC initial scan for one block (T.81 G.1.2.2 /
    libjpeg decode_mcu_AC_first). ``zz`` is the block's zig-zag
    coefficient vector; returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = _decode_symbol(br, table)
        r, size = rs >> 4, rs & 15
        if size == 0:
            if r < 15:  # EOBn: run of 2^r + extra end-of-bands
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.receive(r)
                return eobrun
            k += 16  # ZRL
            continue
        k += r
        if k > Se:
            raise ValueError("AC index overflow in progressive scan")
        zz[k] = _extend(br.receive(size), size) << Al
        k += 1
    return 0


def _ac_refine(br, table, zz, Ss, Se, Al, eobrun) -> int:
    """Progressive AC refinement for one block (T.81 G.1.2.3): newly
    significant coefficients arrive as +-1 << Al; every already-nonzero
    coefficient traversed emits one correction bit."""
    p1 = 1 << Al
    m1 = -p1

    def correct(idx: int) -> None:
        c = int(zz[idx])
        if br.read_bit() and (abs(c) & p1) == 0:
            zz[idx] = c + (p1 if c >= 0 else m1)

    k = Ss
    if eobrun == 0:
        while k <= Se:
            rs = _decode_symbol(br, table)
            r, size = rs >> 4, rs & 15
            val = 0
            if size == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break  # remaining coefficients handled below
                # r == 15: run over 16 zero-history coefficients
            else:
                # size must be 1 in a refinement scan
                val = p1 if br.read_bit() else m1
            while k <= Se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val != 0 and k <= Se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= Se:
            if zz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _full_block(br, zz, huff, dc_tbl, ac_tbl, dc_pred, cid) -> None:
    """Baseline (sequential) DC+AC decode of one block into ``zz``."""
    t = _decode_symbol(br, huff[(0, dc_tbl)])
    diff = _extend(br.receive(t), t)
    dc_pred[cid] += diff
    zz[0] = dc_pred[cid]
    k = 1
    while k < 64:
        rs = _decode_symbol(br, huff[(1, ac_tbl)])
        r, size = rs >> 4, rs & 15
        if size == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC index overflow")
        zz[k] = _extend(br.receive(size), size)
        k += 1


def decode_jpeg(b: bytes) -> np.ndarray:
    """JPEG (Huffman, 8-bit) -> (h, w) uint8 grayscale or (h, w, 3)
    uint8 RGB, per ITU-T T.81: BASELINE sequential (SOF0/SOF1) and
    PROGRESSIVE (SOF2 — spectral selection + successive approximation,
    with EOB runs and AC refinement correction bits; round-5 second
    pass). Shared machinery: marker/DQT/DHT parse, canonical Huffman
    with byte-unstuffing and restart markers, per-component zig-zag
    coefficient planes filled scan by scan, then dequantize,
    de-zigzag, orthonormal 8x8 inverse DCT, +128 level shift, chroma
    upsampling (4:2:0 / 4:2:2), BT.601 YCbCr->RGB. Arithmetic coding
    (SOF9+) and hierarchical/lossless modes raise ValueError."""
    if not is_jpeg(b):
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    restart_interval = 0
    coefs: dict[int, np.ndarray] = {}
    eobrun_state = {}
    dims = None
    saw_scan = False
    pos = 2
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if pos + 2 > len(b):
            raise ValueError("truncated segment")
        ln = struct.unpack(">H", b[pos : pos + 2])[0]
        if ln < 2:
            # a segment length below 2 cannot cover its own length field;
            # advancing by it would loop forever on corrupt input
            raise ValueError(f"bad segment length {ln}")
        seg = b[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[i : i + 64], dtype=np.uint8)
                    i += 64
                else:
                    tbl = np.frombuffer(seg[i : i + 128], dtype=">u2")
                    i += 128
                qt[tq] = tbl.astype(np.int64)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            if not 1 <= nc <= 4:
                raise ValueError(f"bad JPEG component count {nc}")
            progressive = marker == 0xC2
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 15 <= 4):
                    # T.81 B.2.2: sampling factors are 1..4; a 0 would
                    # divide by zero sizing the MCU grid below
                    raise ValueError(f"bad JPEG sampling factors 0x{hv:02X}")
            check_pixels(w, h)
            frame = {"h": h, "w": w, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            dims = (hmax, vmax, mcus_x, mcus_y)
            coefs = {
                c["id"]: np.zeros(
                    (mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64
                )
                for c in comps
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG profile (SOF marker 0xFF{marker:02X}); "
                "sequential/progressive Huffman only"
            )
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                nvals = sum(bits)
                values = seg[i + 17 : i + 17 + nvals]
                huff[(tc, th)] = _build_huffman(bits, values)
                i += 17 + nvals
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — one scan's entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for ci in range(ns):
                cid, tt = seg[1 + 2 * ci : 3 + 2 * ci]
                scan.append({"id": cid, "dc": tt >> 4, "ac": tt & 15})
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            pos += ln
            br = _BitReader(b, pos)
            _decode_scan(
                br, frame, dims, scan, huff, coefs,
                restart_interval, progressive, ss, se, ah, al,
            )
            pos = br.pos
            saw_scan = True
            continue
        pos += ln
    if frame is None or not saw_scan:
        raise ValueError("missing SOF/SOS")

    comps = frame["comps"]
    hmax, vmax, mcus_x, mcus_y = dims
    planes = {}
    for c in comps:
        plane = np.zeros(
            (mcus_y * 8 * c["v"], mcus_x * 8 * c["h"]), dtype=np.float64
        )
        q = qt[c["tq"]]
        arr = coefs[c["id"]]
        for by in range(arr.shape[0]):
            for bx in range(arr.shape[1]):
                zz = arr[by, bx]
                block = np.zeros(64, dtype=np.float64)
                block[_ZIGZAG] = (zz * q).astype(np.float64)
                block = block.reshape(8, 8)
                plane[
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = _DCT_C.T @ block @ _DCT_C + 128.0
        planes[c["id"]] = plane

    h, w = frame["h"], frame["w"]
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        if c["h"] < hmax or c["v"] < vmax:
            p = np.repeat(
                np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1
            )
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    # BT.601 full-range inverse (JFIF Annex B)
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_scan(
    br, frame, dims, scan, huff, coefs, restart_interval,
    progressive, ss, se, ah, al,
) -> None:
    """Consume one scan's entropy-coded data into the coefficient
    planes. Baseline: one interleaved full-block scan. Progressive: DC
    scans (interleaved or single-component, first or refine) and
    single-component AC scans over the component's own block grid."""
    comps_by_id = {c["id"]: c for c in frame["comps"]}
    scomps = [comps_by_id[sc["id"]] for sc in scan]
    sc_by_id = {sc["id"]: sc for sc in scan}
    hmax, vmax, mcus_x, mcus_y = dims

    def comp_grid(c):
        bw = -(-(frame["w"] * c["h"]) // (8 * hmax))
        bh = -(-(frame["h"] * c["v"]) // (8 * vmax))
        return bh, bw

    if not progressive or ss == 0:
        # interleaved MCU walk (baseline full blocks, or progressive DC)
        # — a single-component scan walks that component's own grid
        interleaved = len(scomps) > 1
        dc_pred = {c["id"]: 0 for c in scomps}
        unit = 0
        if interleaved:
            walk = [
                (c, my * c["v"] + by, mx * c["h"] + bx)
                for my in range(mcus_y)
                for mx in range(mcus_x)
                for c in scomps
                for by in range(c["v"])
                for bx in range(c["h"])
            ]
            units_per_restart = sum(c["h"] * c["v"] for c in scomps)
        else:
            c = scomps[0]
            bh, bw = comp_grid(c)
            walk = [(c, by, bx) for by in range(bh) for bx in range(bw)]
            units_per_restart = 1
        mcu = 0
        blocks_in_mcu = 0
        for c, by, bx in walk:
            if (
                restart_interval
                and mcu
                and blocks_in_mcu == 0
                and mcu % restart_interval == 0
                and br.at_marker()
            ):
                br.skip_marker()
                dc_pred = {cc["id"]: 0 for cc in scomps}
            sc = sc_by_id[c["id"]]
            zz = coefs[c["id"]][by, bx]
            if not progressive:
                _full_block(
                    br, zz, huff, sc["dc"], sc["ac"], dc_pred, c["id"]
                )
            elif ah == 0:  # DC first
                t = _decode_symbol(br, huff[(0, sc["dc"])])
                dc_pred[c["id"]] += _extend(br.receive(t), t)
                zz[0] = dc_pred[c["id"]] << al
            else:  # DC refine: one bit per block
                if br.read_bit():
                    zz[0] = int(zz[0]) | (1 << al)
            blocks_in_mcu += 1
            if blocks_in_mcu == units_per_restart:
                blocks_in_mcu = 0
                mcu += 1
        return

    # progressive AC scan: exactly one component (T.81 G.1.1)
    if len(scomps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    c = scomps[0]
    sc = sc_by_id[c["id"]]
    table = huff[(1, sc["ac"])]
    bh, bw = comp_grid(c)
    eobrun = 0
    bi = 0
    for by in range(bh):
        for bx in range(bw):
            if (
                restart_interval
                and bi
                and bi % restart_interval == 0
                and br.at_marker()
            ):
                br.skip_marker()
                eobrun = 0
            zz = coefs[c["id"]][by, bx]
            if ah == 0:
                eobrun = _ac_first(br, table, zz, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine(br, table, zz, ss, se, al, eobrun)
            bi += 1


# ---------------------------------------------------------------------------
# GIF (GIF87a/GIF89a, LZW)
# ---------------------------------------------------------------------------


def is_gif(b: bytes) -> bool:
    return len(b) > 13 and b[:6] in (b"GIF87a", b"GIF89a")


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> list[int]:
    """GIF-variant LZW: LSB-first variable-width codes (up to 12 bits),
    clear/end codes, dictionary of index strings (GIF89a spec
    Appendix F). Returns the flat pixel-index list, at most
    ``n_pixels`` long: decoding stops once the frame is full, so a
    crafted stream cannot expand past the image it claims to be."""
    if not 1 <= min_code_size <= 11:
        # spec range is 2-8 (11 max with the 12-bit code ceiling); a
        # corrupt value like 102 would otherwise allocate a 2^102-entry
        # dictionary before the first code is read
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    dictionary: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # stream ended without END code — tolerate
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dictionary = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if code < len(dictionary) and (code < clear or dictionary[code]):
            entry = dictionary[code]
        elif code == len(dictionary) and prev is not None:
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if len(out) >= n_pixels:
            del out[n_pixels:]
            return out
        # a full 4096-entry table stops growing until the next CLEAR
        # (the 12-bit code ceiling; the GIF "deferred clear")
        if prev is not None and len(dictionary) < 4096:
            dictionary.append(prev + [entry[0]])
            if len(dictionary) == (1 << width) and width < 12:
                width += 1
        prev = entry


def decode_gif(b: bytes) -> np.ndarray:
    """GIF -> (h, w, 3) uint8 RGB of the FIRST frame (GIF87a/GIF89a:
    logical screen descriptor, global/local color tables, extension
    skip, LZW-compressed image data, interlace reordering). Animated
    GIFs yield frame 0 — the multimodal feature path treats stills and
    animation posters alike. Raises ValueError on structural errors."""
    if not is_gif(b):
        raise ValueError("not a GIF")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    check_pixels(w, h)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{blk:02X}")
        ix, iy, iw, ih, iflags = struct.unpack("<HHHHB", b[pos : pos + 9])
        check_pixels(iw, ih)
        pos += 9
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            ct = np.frombuffer(
                b[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("no color table")
        min_code = b[pos]
        pos += 1
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(min_code, bytes(data), iw * ih)
        if len(idx) < iw * ih:
            raise ValueError("short GIF pixel data")
        grid = np.array(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: 4-pass row order (spec App. E)
            order = (
                list(range(0, ih, 8))
                + list(range(4, ih, 8))
                + list(range(2, ih, 4))
                + list(range(1, ih, 2))
            )
            un = np.empty_like(grid)
            un[order] = grid
            grid = un
        # a frame reaching past the logical screen is clipped to it, as
        # browsers do
        grid = grid[: max(h - iy, 0), : max(w - ix, 0)]
        frame = np.zeros((h, w, 3), dtype=np.uint8)
        frame[iy : iy + grid.shape[0], ix : ix + grid.shape[1]] = ct[
            np.clip(grid, 0, len(ct) - 1)
        ]
        return frame
    raise ValueError("GIF has no image descriptor")


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF (ISO/IEC 14496-12) — container METADATA parse only
# ---------------------------------------------------------------------------


def is_mp4(b: bytes) -> bool:
    return len(b) >= 12 and b[4:8] == b"ftyp"


def _boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the box sequence in
    b[start:end], handling 64-bit largesize and size==0 (to end)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", b[pos : pos + 4])[0]
        typ = b[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            size = struct.unpack(">Q", b[pos + 8 : pos + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad box size {size} for {typ!r}")
        yield typ, pos + hdr, pos + size
        pos += size


def _find(b: bytes, start: int, end: int, typ: bytes):
    for t, s0, e0 in _boxes(b, start, end):
        if t == typ:
            return s0, e0
    return None


def parse_mp4(b: bytes) -> dict:
    """ISO BMFF structural parse — the REAL metadata extraction a
    100 TB multimodal pipeline runs on every video before any frame is
    touched (box walk per ISO/IEC 14496-12: ftyp brand, mvhd movie
    duration, per-trak tkhd/mdhd/hdlr/stsd/stsz). Returns
    {major_brand, duration_ms, tracks: [{kind, codec, width, height,
    duration_ms, sample_count}]}. FRAME DECODE is out of scope (no
    codec library in the environment — the stub seam in
    operators/multimodal.py is unchanged); this parser makes the
    metadata columns real."""
    if not is_mp4(b):
        raise ValueError("not an ISO BMFF file")
    major = b[8:12].decode("ascii", "replace")
    moov = _find(b, 0, len(b), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    out: dict = {"major_brand": major, "duration_ms": None, "tracks": []}
    mvhd = _find(b, *moov, b"mvhd")
    if mvhd is not None:
        v = b[mvhd[0]]
        if v == 1:
            ts, dur = struct.unpack(">IQ", b[mvhd[0] + 20 : mvhd[0] + 32])
        else:
            ts, dur = struct.unpack(">II", b[mvhd[0] + 12 : mvhd[0] + 20])
        out["duration_ms"] = int(dur * 1000 // ts) if ts else None
    for t, s0, e0 in _boxes(b, *moov):
        if t != b"trak":
            continue
        tr: dict = {
            "kind": None, "codec": None, "width": None, "height": None,
            "duration_ms": None, "sample_count": None,
        }
        tkhd = _find(b, s0, e0, b"tkhd")
        if tkhd is not None:
            v = b[tkhd[0]]
            base = tkhd[0] + (32 if v == 0 else 44)
            # layer(2) alt(2) volume(2) reserved(2) matrix(36) w(4) h(4)
            wh = b[base + 44 : base + 52]
            if len(wh) == 8:
                w1616, h1616 = struct.unpack(">II", wh)
                tr["width"], tr["height"] = w1616 >> 16, h1616 >> 16
        mdia = _find(b, s0, e0, b"mdia")
        if mdia is not None:
            mdhd = _find(b, *mdia, b"mdhd")
            if mdhd is not None:
                v = b[mdhd[0]]
                if v == 1:
                    ts, dur = struct.unpack(
                        ">IQ", b[mdhd[0] + 20 : mdhd[0] + 32]
                    )
                else:
                    ts, dur = struct.unpack(
                        ">II", b[mdhd[0] + 12 : mdhd[0] + 20]
                    )
                tr["duration_ms"] = int(dur * 1000 // ts) if ts else None
            hdlr = _find(b, *mdia, b"hdlr")
            if hdlr is not None:
                handler = b[hdlr[0] + 8 : hdlr[0] + 12]
                tr["kind"] = {b"vide": "video", b"soun": "audio"}.get(
                    handler, handler.decode("ascii", "replace")
                )
            minf = _find(b, *mdia, b"minf")
            stbl = _find(b, *minf, b"stbl") if minf else None
            if stbl is not None:
                stsd = _find(b, *stbl, b"stsd")
                if stsd is not None and stsd[1] - stsd[0] >= 16:
                    tr["codec"] = b[stsd[0] + 12 : stsd[0] + 16].decode(
                        "ascii", "replace"
                    )
                stsz = _find(b, *stbl, b"stsz")
                if stsz is not None:
                    tr["sample_count"] = struct.unpack(
                        ">I", b[stsz[0] + 8 : stsz[0] + 12]
                    )[0]
        out["tracks"].append(tr)
    return out


def to_gray(arr: np.ndarray) -> np.ndarray:
    """(h, w, c) uint8 -> (h, w) float64 luma (ITU-R BT.601 for color;
    channel 0 for gray/gray+alpha)."""
    if arr.shape[2] >= 3:
        return (
            0.299 * arr[:, :, 0].astype(np.float64)
            + 0.587 * arr[:, :, 1].astype(np.float64)
            + 0.114 * arr[:, :, 2].astype(np.float64)
        )
    return arr[:, :, 0].astype(np.float64)


def block_mean_resize(g: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-style downscale by block means (indices partitioned with
    integer boundaries — deterministic, no float resampling kernels)."""
    h, w = g.shape[:2]
    ys = [h * i // out_h for i in range(out_h + 1)]
    xs = [w * j // out_w for j in range(out_w + 1)]
    out = np.empty((out_h, out_w) + g.shape[2:], dtype=np.float64)
    for i in range(out_h):
        for j in range(out_w):
            y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = g[y0:y1, x0:x1].mean(axis=(0, 1))
    return out


def average_phash(g: np.ndarray) -> int:
    """64-bit average hash: block-mean the luma to 8x8, set bit
    (8*i + j) when the block exceeds the 8x8 mean; masked to 63 bits so
    the value fits Spark's signed LongType."""
    small = block_mean_resize(g, 8, 8)
    mean = small.mean()
    bits = 0
    for i in range(8):
        for j in range(8):
            if small[i, j] > mean:
                bits |= 1 << (i * 8 + j)
    return bits & 0x7FFFFFFFFFFFFFFF
